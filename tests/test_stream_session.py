"""Pins for the session every streaming run starts on
(``streaming/pipeline.py::_stream_session``).

- a run writes nothing to the caller's session, and neither does a direct
  ``read_events_stream`` on a file the runtime reads natively: a conf it
  set (``nanosAsLong``) would make every later batch parquet read in that
  session read nanosecond timestamps as longs;
- the stream session carries the caller's conf, ``spark.hadoop.*`` and
  custom keys included, and copying it raises nothing;
- every start through ``_run_stream`` runs on an owned session whose
  checkpoint manager is the FileSystem one (the default FileContext one
  starts two ``readlink`` processes per checkpoint rename without native
  ``libhadoop``), with checkpoint checksums left on.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql.conf import RuntimeConfig

from mini_project_big_data_analysis_spark.queries import all_queries
from mini_project_big_data_analysis_spark.streaming import pipeline

CKPT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
CHECKSUM_KEY = "spark.sql.streaming.checkpoint.fileChecksum.enabled"


def _all_confs(session) -> dict[str, str]:
    it = session._jsparkSession.sessionState().conf().getAllConfs().iterator()
    confs = {}
    while it.hasNext():
        e = it.next()
        confs[e._1()] = e._2()
    return confs


@pytest.mark.parametrize(
    "qid",
    [
        "stream_clean_sink",
        "stream_static_enrich",
        "stream_fanout_sinks",
        "stream_tumbling_agg",
    ],
)
def test_stream_run_leaves_caller_conf_untouched(spark, sf_dir, qid):
    # A sibling session: the shared one may already carry nanosAsLong from
    # an earlier test, which would hide the leak.
    caller = spark.newSession()
    before = _all_confs(caller)
    df = all_queries()[qid].fn(caller, sf_dir)
    assert df.count() > 0
    assert _all_confs(caller) == before


def test_read_events_stream_leaves_caller_conf_untouched(spark, sf_dir):
    """The stream takes the batch reader's probed schema and ``ts``
    conversion, so it sets conf only where the batch read would."""
    caller = spark.newSession()
    before = _all_confs(caller)
    stream = pipeline.read_events_stream(caller, sf_dir)
    assert stream.isStreaming
    assert stream.schema["ts"].dataType.typeName() == "timestamp"
    assert _all_confs(caller) == before


def test_stream_session_copies_conf_without_raising(spark, monkeypatch):
    caller = spark.newSession()
    caller.conf.set("spark.hadoop.fs.mpbda.probe", "1")
    caller.conf.set("mpbda.custom.key", "x")
    # floor=1 sizes the child below the caller's 4 partitions, so the
    # session differs in both keys. The call counted below is the second.
    pipeline._stream_session(caller, 0, floor=1)

    rejected = []
    real_set = RuntimeConfig.set

    def counting_set(self, key, value):
        try:
            return real_set(self, key, value)
        except Exception as exc:
            if "CANNOT_MODIFY_CONFIG" in str(exc):
                rejected.append(key)
            raise

    monkeypatch.setattr(RuntimeConfig, "set", counting_set)
    before = _all_confs(caller)
    child = pipeline._stream_session(caller, 0, floor=1)

    assert rejected == [], rejected
    assert child.conf.get("spark.hadoop.fs.mpbda.probe") == "1"
    assert child.conf.get("mpbda.custom.key") == "x"
    theirs = _all_confs(child)
    diff = {k for k in before.keys() | theirs.keys() if before.get(k) != theirs.get(k)}
    assert diff == {"spark.sql.shuffle.partitions", CKPT_MANAGER_KEY}, diff
    assert theirs["spark.sql.shuffle.partitions"] == "1"
    assert _all_confs(caller) == before


def test_every_stream_start_is_fork_free(spark, sf_dir, monkeypatch):
    """The 3 ``ingest`` ids and the 3 runners that used to start on the
    caller's session (``stream_clean_sink`` is both): each start runs on an
    owned session whose checkpoint manager, built the way Spark builds it
    for the offset and commit logs, is the FileSystem one."""
    jvm = spark.sparkContext._jvm
    create = getattr(
        jvm,
        "org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager",
    ).create
    starts = []
    real_run_stream = pipeline._run_stream

    def recording_run_stream(session, df, run_dir, **kw):
        run_session = df.sparkSession
        hadoop_conf = run_session._jsparkSession.sessionState().newHadoopConf()
        ck = jvm.org.apache.hadoop.fs.Path(os.path.join(run_dir, "ck"))
        starts.append(
            {
                "run": os.path.basename(run_dir),
                "session": run_session,
                "manager": create(ck, hadoop_conf).getClass().getName(),
                "checksum": run_session.conf.get(CHECKSUM_KEY),
            }
        )
        return real_run_stream(session, df, run_dir, **kw)

    monkeypatch.setattr(pipeline, "_run_stream", recording_run_stream)
    qids = [
        "stream_clean_sink",
        "stream_tumbling_agg",
        "stream_foreachbatch_upsert",
        "stream_static_enrich",
        "stream_fanout_sinks",
    ]
    for qid in qids:
        all_queries()[qid].fn(spark, sf_dir)

    assert len(starts) == len(qids), starts
    for s in starts:
        assert s["session"]._jsparkSession != spark._jsparkSession, s["run"]
        assert s["manager"] == pipeline.CHECKPOINT_FILE_MANAGER, s
        assert s["checksum"].lower() != "false", s
    assert len({id(s["session"]) for s in starts}) == len(qids)  # one per run
