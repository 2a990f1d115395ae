"""The engine JVM as a child process speaking the line protocol of
perfbench/engine/Engine.scala."""
import json
import os
import queue
import subprocess
import threading
import time
from pathlib import Path

import build

# The module opens Spark needs on JDK 17 when it is not started by
# spark-submit (the set build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class EngineError(RuntimeError):
    pass


class EngineProcess:
    def __init__(self, classpath: str, heap: str, run_dir: Path, log_config: Path, args):
        self.launched = time.perf_counter()
        tmp = run_dir / "tmp"
        local = run_dir / "spark-local"
        for d in (tmp, local, run_dir / "derby"):
            d.mkdir(parents=True, exist_ok=True)
        env = dict(os.environ)
        # every path the engine writes to lives under this run's directory
        env["SPARK_LOCAL_DIRS"] = str(local)
        env["TMPDIR"] = str(tmp)
        cmd = [build.java(), f"-Xmx{heap}",
               *[f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS],
               f"-Djava.io.tmpdir={tmp}",
               f"-Dspark.local.dir={local}",
               f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
               f"-Dderby.system.home={run_dir / 'derby'}",
               f"-Dlog4j2.configurationFile={log_config}",
               "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC",
               "-Duser.timezone=UTC",
               "-cp", classpath, "perfbench.Engine", *args]
        self.log = open(run_dir / "engine.log", "w")
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.log, text=True, env=env, cwd=run_dir)
        self.lines = queue.Queue()
        threading.Thread(target=self._read, daemon=True).start()

    def _read(self):
        for line in self.proc.stdout:
            self.lines.put(line)
        self.lines.put(None)

    def cmd(self, command: str, timeout: float = 120.0) -> dict:
        """Send one command; return the engine's JSON reply."""
        self.proc.stdin.write(command + "\n")
        self.proc.stdin.flush()
        deadline = time.monotonic() + timeout
        while True:
            try:
                line = self.lines.get(timeout=max(0.01, deadline - time.monotonic()))
            except queue.Empty:
                raise EngineError(f"engine did not answer '{command}' within {timeout:.0f} s")
            if line is None:
                raise EngineError(f"engine exited (code {self.proc.wait()}) during '{command}'")
            line = line.strip()
            if not line.startswith("{"):
                continue
            reply = json.loads(line)
            if reply.get("ev") == "error":
                raise EngineError(f"engine failed '{command}': {reply.get('message')}")
            return reply

    def close(self):
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write("quit\n")
                self.proc.stdin.flush()
                self.proc.wait(timeout=30)
            except (OSError, subprocess.TimeoutExpired, ValueError):
                self.proc.kill()
                self.proc.wait()
        self.log.close()
