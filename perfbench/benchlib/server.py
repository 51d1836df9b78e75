"""Starting, probing and stopping the benchmark's server JVM."""

import json
import os
import shutil
import signal
import subprocess
import threading
import time
import urllib.request

# Spark 4 on JDK 17 outside spark-submit needs these (the list sbt's
# `javaOptions` passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
XMX = "3g"


class ServerError(Exception):
    pass


def _http_json(port, path, timeout=60):
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=timeout) as r:
        return json.loads(r.read())


class Server:
    """One server JVM in its own fresh run directory."""

    def __init__(self, classes, jars, run_dir, sf_dir, clusters, cpus, trace, plan):
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(os.path.join(run_dir, "tmp"))
        self.run_dir = run_dir
        # A fixed heap (-Xms = -Xmx): with a growing one, the peak RSS of a
        # run follows G1's resizing decisions more than the program.
        cmd = ["java", f"-Xms{XMX}", f"-Xmx{XMX}", f"-Djava.io.tmpdir={run_dir}/tmp",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", f"{classes}:{jars}/*", "perfbench.BenchServer",
                "--run-dir", run_dir, "--sf", sf_dir, "--cpus", str(cpus), "--trace", str(trace),
                "--plan", os.path.join(run_dir, "plan.json")]
        with open(os.path.join(run_dir, "plan.json"), "w") as fh:
            json.dump(plan, fh)
        env = {k: v for k, v in os.environ.items() if k not in ("CONFIG", "SPARK_CONF_DIR")}
        env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
        env["KAFKA_BOOTSTRAP_SERVERS"] = ",".join(f"{k}={v}" for k, v in clusters.items())
        self.log_path = os.path.join(run_dir, "server.log")
        self.t_spawn = time.perf_counter()
        with open(self.log_path, "wb") as log:
            self.proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                         cwd=run_dir)
        self.setup = None
        self._rss_peak_kb = 0
        self._sampling = False

    def _wait_file(self, name, timeout):
        path = os.path.join(self.run_dir, name)
        deadline = time.perf_counter() + timeout
        while not os.path.exists(path):
            if self.proc.poll() is not None:
                raise ServerError(f"server exited with {self.proc.returncode}:\n{self.log_tail()}")
            if time.perf_counter() > deadline:
                raise ServerError(f"no {name} within {timeout}s:\n{self.log_tail()}")
            time.sleep(0.02)
        with open(path) as fh:
            return json.load(fh)

    def wait_setup(self, timeout=120):
        """Blocks until the server answers /health and has computed its
        references (`ready.json`); returns the ready document."""
        self.setup = self._wait_file("setup.json", timeout)
        while True:
            try:
                with urllib.request.urlopen(f"http://127.0.0.1:{self.port}/health", timeout=10) as r:
                    if r.status == 200:
                        break
            except OSError:
                if self.proc.poll() is not None:
                    raise ServerError(f"server exited:\n{self.log_tail()}")
                time.sleep(0.02)
        return self._wait_file("ready.json", timeout)

    def elapsed(self):
        """Seconds since the process was started."""
        return time.perf_counter() - self.t_spawn

    @property
    def port(self):
        return self.setup["port"]

    @property
    def traced_port(self):
        return self.setup["traced_port"]

    def control(self, path, timeout=60):
        return _http_json(self.setup["control_port"], path, timeout)

    # Peak RSS of the timed phase: reset the kernel's high-water mark
    # (`clear_refs` 5), read VmHWM at the end; sample VmRSS as well in case
    # the reset is not permitted.
    def rss_mark(self):
        try:
            with open(f"/proc/{self.proc.pid}/clear_refs", "w") as fh:
                fh.write("5")
            self._hwm_reset = True
        except OSError:
            self._hwm_reset = False
        self._rss_peak_kb = 0
        self._sampling = True
        threading.Thread(target=self._sample_rss, daemon=True).start()

    def _status_kb(self, field):
        with open(f"/proc/{self.proc.pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
        return 0

    def _sample_rss(self):
        while self._sampling:
            try:
                self._rss_peak_kb = max(self._rss_peak_kb, self._status_kb("VmRSS"))
            except OSError:
                return
            time.sleep(0.05)

    def rss_peak_mb(self):
        self._sampling = False
        peak = self._rss_peak_kb
        if self._hwm_reset:
            peak = max(peak, self._status_kb("VmHWM"))
        return peak / 1024.0

    def log_tail(self, n=30):
        try:
            with open(self.log_path, errors="replace") as fh:
                return "".join(fh.readlines()[-n:])
        except OSError:
            return ""

    def stop(self):
        """Stops the JVM and waits for it to end."""
        self._sampling = False
        if self.proc.poll() is None and self.setup is not None:
            try:
                self.control("/bench/stop", timeout=10)
                self.proc.wait(timeout=30)
            except (OSError, subprocess.TimeoutExpired, ValueError):
                pass
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGKILL)
        self.proc.wait()

    def remove(self):
        shutil.rmtree(self.run_dir, ignore_errors=True)
