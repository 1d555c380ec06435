"""Session settings that trade a feature for speed keep what matters,
and save what they were set for."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F


def test_runtime_error_raises_without_call_site_capture(spark):
    """Python call-site capture is off (it costs most of a build's py4j
    round trips); an ANSI runtime error still raises, only without the
    Python file:line in its DataFrame query context."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
        spark.range(1).select(F.col("id") / F.col("id")).collect()


def _process_starts(jvm, run, dump_path):
    """(command, stack frames) of every OS process the driver JVM starts
    while ``run()`` runs, read from a JFR recording of
    ``jdk.ProcessStart`` dumped to ``dump_path``."""
    recording = jvm.jdk.jfr.Recording()
    try:
        recording.enable("jdk.ProcessStart").withStackTrace()
        recording.start()
        run()
        recording.stop()
        dump = jvm.java.io.File(dump_path).toPath()
        recording.dump(dump)
        events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
    finally:
        recording.close()
    starts = []
    for event in events:
        stack = event.getStackTrace()
        frames = [f.getMethod().getType().getName() for f in stack.getFrames()] if stack else []
        starts.append((event.getString("command").split()[0].rsplit("/", 1)[-1], frames))
    return starts


def test_checkpoint_writes_start_no_readlink(spark, tmp_path):
    """Streaming checkpoints write through the FileSystem-based manager.

    Without a native Hadoop library, Hadoop runs small file operations
    as shell commands, so each one is a process start in the driver JVM.
    The default FileContext manager renames every temp file through
    ``AbstractFileSystem.rename``, which probes the source, the target
    and both ``.crc`` files for symlinks: one ``readlink`` exec each.
    Over this 3-batch run that read 134 starts, 80 of them ``readlink``;
    with the FileSystem manager it reads 55 and none. What the manager
    still starts is the ``chmod`` of each temp file and of its ``.crc``,
    and of each directory it makes."""
    from kafka_stream_service_spark.codec import encode_py
    from kafka_stream_service_spark.pipeline import PipelineConfig, start_pipeline
    from kafka_stream_service_spark.transform import uppercase_function

    src = tmp_path / "in"
    for i in range(3):  # one landed file per micro-batch
        frame = [(None, bytearray(encode_py({}, f"msg {i}".encode())))]
        spark.createDataFrame(frame, "key binary, value binary").coalesce(1) \
            .write.mode("append").parquet(str(src))
    ckpt = tmp_path / "ckpt"
    cfg = PipelineConfig(source="files", sink="eos-files", source_path=str(src),
                         output_dir=str(tmp_path / "out"), checkpoint_dir=str(ckpt),
                         query_name="checkpoint_process_starts")

    def run():
        q = start_pipeline(spark, cfg, uppercase_function)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    starts = _process_starts(spark.sparkContext._jvm, run, str(tmp_path / "starts.jfr"))
    commands = [c for c, _ in starts]
    assert "readlink" not in commands, f"{commands.count('readlink')} readlink of {len(commands)}"
    by_manager = [c for c, frames in starts
                  if any(".streaming.checkpointing." in f for f in frames)]
    walked = list(os.walk(ckpt))
    files = sum(1 for _, _, names in walked for n in names if not n.endswith(".crc"))
    assert files >= 10, walked  # metadata plus 3 each of offsets, commits, source log
    assert len(by_manager) <= 2 * files + len(walked), (len(by_manager), files, len(walked))
