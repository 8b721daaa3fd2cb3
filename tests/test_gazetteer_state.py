"""``plans.pipeline.gazetteer_state``: the gazetteer's derived state and its
broadcasts live once per (session, gazetteer content), never per object."""

from __future__ import annotations

import copy
import json
import subprocess
import sys
import textwrap
from pathlib import Path

from address_parser_spark.plans import pipeline
from address_parser_spark.plans.pipeline import gazetteer_state, run_pipeline
from address_parser_spark.sources.pages import PAGES_SCHEMA, synth_pages_local

REPO = Path(__file__).resolve().parent.parent
COLS = ("url", "mention", "province", "new_ward_name", "cluster_id")


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.select(*COLS).collect()))


def _rename(g) -> None:
    """In place: display names the resolver and the ward table both carry."""
    for p in g.old_provinces + g.new_provinces:
        p["name"] = p["name"].upper()
    for m in g.ward_mappings:
        m["new_ward_name"] = m["new_ward_name"] + " (mới)"


def test_repeated_runs_reuse_one_state(spark, gaz):
    g = copy.deepcopy(gaz)
    assert gazetteer_state(spark, g) is gazetteer_state(spark, copy.deepcopy(g))


def test_gazetteer_mutated_in_place_gets_new_state(spark, gaz):
    g = copy.deepcopy(gaz)
    pages = spark.createDataFrame(synth_pages_local(g, 30, seed=7)[0], PAGES_SCHEMA)
    renamed = copy.deepcopy(g)
    _rename(renamed)
    want_renamed = _rows(run_pipeline(spark, pages, renamed))

    before = _rows(run_pipeline(spark, pages, g))
    state = gazetteer_state(spark, g)
    _rename(g)  # the same object, new content
    after = _rows(run_pipeline(spark, pages, g))

    assert gazetteer_state(spark, g) is not state
    assert after == want_renamed
    assert after != before
    assert {r[2] for r in after if r[2]} == {r[2].upper() for r in before if r[2]}


def test_state_cache_keeps_one_gazetteer(spark, gaz):
    states = []
    for i in range(3):
        g = copy.deepcopy(gaz)
        g.ward_mappings = g.ward_mappings[: i + 1]
        states.append(gazetteer_state(spark, g))
    assert pipeline._STATE[1] is states[-1]
    assert len({id(s) for s in states}) == 3


_NEW_SESSION = textwrap.dedent("""
    import json
    from address_parser_spark.gazetteer import synth_gazetteer
    from address_parser_spark.plans import pipeline
    from address_parser_spark.session import get_spark
    from address_parser_spark.sources.pages import PAGES_SCHEMA, synth_pages_local

    gaz = synth_gazetteer()
    pages, _ = synth_pages_local(gaz, 20)
    runs, states = [], []
    for _ in range(2):
        spark = get_spark("state-cache", master="local[2]",
                          extra_confs={"spark.sql.shuffle.partitions": "4"})
        out = pipeline.run_pipeline(spark, spark.createDataFrame(pages, PAGES_SCHEMA), gaz)
        states.append(pipeline.gazetteer_state(spark, gaz))
        runs.append({
            "app": spark.sparkContext.applicationId,
            "reused": states[0] is states[-1] and len(states) > 1,
            "keys": [pipeline._STATE[0][0]],
            "rows": sorted(map(list, out.select("url", "mention", "cluster_id").collect())),
        })
        spark.stop()
    print(json.dumps(runs))
""")


def test_new_session_after_stop_builds_its_own_state(tmp_path):
    """A session started after ``spark.stop()`` gets fresh broadcasts (the
    stopped context's are gone) and the same output; the stopped session's
    entries are dropped. Runs in its own process, as it stops its session."""
    proc = subprocess.run(
        [sys.executable, "-c", _NEW_SESSION], capture_output=True, text=True,
        timeout=600, cwd=str(REPO),
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    first, second = json.loads(proc.stdout.strip().splitlines()[-1])
    assert first["app"] != second["app"]
    assert not second["reused"]
    assert first["keys"] == [first["app"]]
    assert second["keys"] == [second["app"]]
    assert first["rows"] == second["rows"] and first["rows"]
