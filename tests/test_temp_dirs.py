"""Who owns a temp dir: a layout shared across runs goes through
`staging.stage_once`, a dir private to one run comes from the swept
`staging.scratch_dir`. No query writes to a fixed path it wipes on
entry, and no run leaves an unswept dir behind."""

from __future__ import annotations

import os
import tempfile
import threading

import pytest

from tests.oracle import compare, duck_connection
from twitter_flink_spark.registry import ORACLES, QUERIES
from twitter_flink_spark.sources import staging

pytestmark = pytest.mark.slow  # each test drives whole queries or streams

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize(
    "name", ["schema_evolution_merged_read", "streaming_mv_serve_join"]
)
def test_second_run_keeps_the_first_runs_files(spark, duck, name):
    """The first run's frame is collected only after a second run of the
    same query returned: the second run must not have deleted the files
    the first frame lists."""
    first = QUERIES[name](spark, SF_DIR)
    second = QUERIES[name](spark, SF_DIR)
    want = duck.execute(ORACLES[name]).fetchdf()
    assert compare(first, want) == []
    assert compare(second, want) == []


def test_stream_runs_leave_only_swept_or_staged_dirs(
    spark, tmp_path, monkeypatch
):
    """A feedback loop and an MV drain leave nothing in the temp dir but
    `scratch_dir` dirs (swept once their pid is dead) and `stage_once`
    fixtures (kept on purpose)."""
    from twitter_flink_spark.streaming.pipeline import TopNFeedback

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    fb = TopNFeedback(spark, SF_DIR)
    fb.run_leaderboard()
    fb.run_filter().count()
    QUERIES["streaming_incremental_mv"](spark, SF_DIR).count()
    left = os.listdir(tmp_path)
    assert any(d.startswith("tfs-eph-") for d in left)
    assert [
        d
        for d in left
        if not d.startswith("tfs-eph-")
        and not os.path.isfile(tmp_path / d / staging.MARKER)
    ] == []


def test_two_level_era_layout_concurrent_staging(
    spark, duck, tmp_path, monkeypatch
):
    """Two threads staging the two-level era layout at once leave ONE
    complete layout (marker and root manifest), and the query over it
    matches its oracle on a first call (era 2 fresh) and a second call
    (era 2 already indexed)."""
    from twitter_flink_spark.operators import skipping
    from twitter_flink_spark.queries import scale
    from twitter_flink_spark.sources.tables import load_table

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    results, errors = [], []

    def build():
        try:
            results.append(scale._ensure_two_level_era_layout(spark, SF_DIR))
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=build) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert len({dest for dest, _ in results}) == 1
    dest = results[0][0]
    assert all(fresh for _, fresh in results)  # era 2 not yet indexed
    assert os.path.isfile(os.path.join(dest, staging.MARKER))
    assert set(skipping.two_level_columns(dest)) == {"ts"}
    assert not [d for d in os.listdir(tmp_path) if ".build-" in d]
    events = load_table(spark, SF_DIR, "events")
    assert spark.read.parquet(dest).count() == events.count()
    want = duck.execute(ORACLES["twolevel_incremental_update"]).fetchdf()
    for _ in range(2):
        got = QUERIES["twolevel_incremental_update"](spark, SF_DIR)
        assert compare(got, want) == []
    assert scale._ensure_two_level_era_layout(spark, SF_DIR) == (dest, False)
