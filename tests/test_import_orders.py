"""Registry completeness under EVERY import entry point.

queries.py's tail imports every registering module, and those modules
import ``register`` back (from queries.py, or from plans/registry.py
when their own body reads sibling registrations). Twice a module
imported FIRST broke that web: llm_ops reading ORACLES["doc_lm_score"]
mid-registration (fixed with _LM_SCORE_SQL), then extensions-first
hitting staged_ops_r6's body-time reads of extensions._COS_CTES and
ORACLES["doc_lang_id"] (fixed by moving them to oracle_ctes). Those bugs
are invisible to every suite whose conftest imports queries first — so
this test imports each plans module as the FIRST plans import of a fresh
interpreter and checks the registry still completes, equal in size and
names to the queries-first baseline. No SparkSession is created.
"""

from __future__ import annotations

import json
import subprocess
import sys

import pytest

MODULES = [
    "queries",
    "extensions",
    "llm_ops",
    "search_ops",
    "mining_ops",
    "analysis_ops",
    "dss_ops",
    "staged_ops",
    "staged_ops_r6",
    "staged_ops_r7",
    "staged_ops_r8",   # its oracle late-binding imports staged_ops_r7
    "staged_ops_r9",   # its oracle late-binding imports staged_ops_r8
    "staged_ops_r10",  # its oracle late-binding imports staged_ops_r8
    "staged_ops_r11",  # unregistered, but its oracle late-binding
                       # imports queries (CMP_CTES) and oracle_ctes —
                       # importing it FIRST must still complete the
                       # registry
    "oracle_ctes",
    "registry",
]

_PROBE = """
import json, sys
import traffic_data_pipeline_spark.plans.{mod}  # noqa: F401 — entry point
from traffic_data_pipeline_spark.plans.queries import ORACLES, QUERIES
print(json.dumps({{"n_q": len(QUERIES), "n_o": len(ORACLES),
                   "names_md5": __import__("hashlib").md5(
                       ",".join(sorted(QUERIES)).encode()).hexdigest()}}))
"""


def _probe(mod: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _PROBE.format(mod=mod)],
        capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, f"{mod}-first import failed:\n{out.stderr[-2000:]}"
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("mod", MODULES)
def test_registry_complete_when_imported_first(mod):
    base = _probe("queries")
    got = _probe(mod)
    assert got == base, (mod, got, base)


def test_register_rejects_a_name_already_registered():
    """The one collision guard: registering a taken name raises and
    leaves the existing entry untouched."""
    from traffic_data_pipeline_spark.plans.queries import (
        ORACLES,
        QUERIES,
        register,
    )

    name = "sensor_15min_agg"
    before = (QUERIES[name], ORACLES[name])
    with pytest.raises(RuntimeError, match=name):
        register(name, "SELECT 1 AS x")(lambda spark, sf_dir: None)
    assert (QUERIES[name], ORACLES[name]) == before
