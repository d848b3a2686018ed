"""Suite-level checkpoint-dir sweep audit (VERDICT r10 task 6): running
EVERY streaming/connector qid must leave zero per-run checkpoint dirs
behind on ``/dev/shm`` or the OS temp dir — the cleanup contract holds
wherever a caller provisions one, not just where someone remembered to
test it.

Every per-run checkpointLocation in the engine is provisioned by
``streaming.util.stream_checkpoint_dir`` and every prefix starts with
``ck_`` / ``prewarm_ck`` (grep-audited; the test would catch a new
runner that forgets cleanup as long as it keeps that convention, and
``test_prefix_convention`` pins the convention itself)."""

import os
import re
import tempfile

from multiomix_aws_emr_spark.queries import QUERIES

STREAM_QIDS = tuple(
    q for q in QUERIES if q.startswith(("stream_", "source_", "sink_"))
)

_CKPT_RE = re.compile(r"^(ck_|prewarm_ck)")


def _ckpt_entries() -> set:
    """Checkpoint dirs under both local media ``stream_checkpoint_dir``
    provisions on: ``/dev/shm`` (when it has room) and the OS temp dir."""
    return {
        os.path.join(root, e)
        for root in ("/dev/shm", tempfile.gettempdir())
        if os.path.isdir(root)
        for e in os.listdir(root)
        if _CKPT_RE.match(e)
    }


def test_prefix_convention():
    """All stream_checkpoint_dir call sites use a ck_/prewarm_ck prefix,
    so the sweep below actually observes every per-run checkpoint."""
    import multiomix_aws_emr_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    pat = re.compile(r"stream_checkpoint_dir\(\s*spark,\s*f?\"([^\"{]+)")
    prefixes = []
    for root, _dirs, files in os.walk(pkg_dir):
        for f in files:
            if f.endswith(".py"):
                with open(os.path.join(root, f)) as fh:
                    prefixes += pat.findall(fh.read())
    assert prefixes, "no stream_checkpoint_dir call sites found"
    for p in prefixes:
        assert _CKPT_RE.match(p), f"unaudited checkpoint prefix: {p}"


def test_durable_root_swept_after_run(spark, sf_dir, monkeypatch, tmp_path):
    """End-to-end through a real bounded runner: with a durable
    checkpoint root (URI form), the per-run subdir is deleted on success
    via the Hadoop FileSystem sweep — the fleet-run analog of the local
    temp-dir cleanup (ADVICE r10)."""
    root = tmp_path / "ckroot"
    root.mkdir()
    monkeypatch.setenv("SPARK_GRAFT_STREAM_CKPT_DIR", f"file://{root}")
    df = QUERIES["stream_tumbling"](spark, sf_dir)
    assert df.count() > 0
    leftovers = [p.name for p in root.iterdir()]
    assert not leftovers, f"durable-root checkpoint not swept: {leftovers}"


_SESSION_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.sources.partitionOverwriteMode",
    "spark.sql.streaming.stateStore.providerClass",
)


def _temp_views(spark) -> set:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_no_checkpoint_dirs_accumulate(spark, sf_dir):
    """Run the full streaming surface once and assert it leaves the
    session as it found it: no new ck_* leftovers on either local medium,
    no temp view added, no active stream, the stream-related confs
    unchanged, and every stream started under a name."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Names(StreamingQueryListener):
        def __init__(self):
            self.names = []

        def onQueryStarted(self, event):
            self.names.append(event.name)

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    before = _ckpt_entries()
    views = _temp_views(spark)
    confs = {k: spark.conf.get(k, None) for k in _SESSION_CONFS}
    assert len(STREAM_QIDS) >= 15
    listener = _Names()
    spark.streams.addListener(listener)
    try:
        for qid in STREAM_QIDS:
            df = QUERIES[qid](spark, sf_dir)
            assert df.count() >= 0, qid
    finally:
        spark.streams.removeListener(listener)
    leftovers = _ckpt_entries() - before
    assert not leftovers, f"checkpoint dirs leaked: {sorted(leftovers)}"
    assert _temp_views(spark) - views == set()
    assert spark.streams.active == []
    assert {k: spark.conf.get(k, None) for k in _SESSION_CONFS} == confs
    assert listener.names and all(listener.names), listener.names
