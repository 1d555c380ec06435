"""Child processes that speak one line per command on stdin/stdout."""

from __future__ import annotations

import os
import queue
import subprocess
import sys
import threading


class LineChild:
    """A child process started from a script in this directory. Its
    stdout is read by a thread so every answer can be awaited with a
    timeout."""

    def __init__(self, script: str, *args: str, env: dict | None = None):
        here = os.path.dirname(os.path.abspath(__file__))
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(here, script), *args],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, env=env,
        )
        self.pid = self.proc.pid
        self._lines: queue.Queue = queue.Queue()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            self._lines.put(line.rstrip("\n"))
        self._lines.put(None)

    def answer(self, timeout: float) -> str:
        try:
            line = self._lines.get(timeout=timeout)
        except queue.Empty:
            raise TimeoutError(f"{self.proc.args[1]} gave no answer in {timeout:.0f} s") from None
        if line is None:
            raise RuntimeError(f"{self.proc.args[1]} exited with {self.proc.wait()}")
        return line

    def ask(self, command: str, timeout: float) -> str:
        self.proc.stdin.write(command + "\n")
        self.proc.stdin.flush()
        return self.answer(timeout)

    def close(self, command: str | None = None) -> None:
        """Send ``command`` if given, then make sure the process has ended."""
        if self.proc.poll() is None:
            try:
                if command:
                    self.proc.stdin.write(command + "\n")
                self.proc.stdin.close()
                self.proc.wait(timeout=10)
            except (OSError, subprocess.TimeoutExpired):
                self.proc.kill()
                self.proc.wait()
        self._reader.join(timeout=5)


def start_spark(app: str, master: str, extra_conf: dict[str, str]):
    """A session from the program's own factory, with console progress
    bars off (they write to the terminal only)."""
    from kafka_stream_service_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false", **extra_conf}
    return get_spark(app, master=master, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin pipe closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
