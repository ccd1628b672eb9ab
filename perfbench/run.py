"""KG-construction benchmark for ``tildener_spark``.

Usage, from the root of a checkout of the repository::

    python3 perfbench/run.py --workload batch_large --seed 1 --seconds 12 --trace 0

The run happens in a child process (``worker.py``) that is the leader of
its own session.  Spark's JVM, the ``pyspark.daemon`` process (which
moves itself into its own process group) and every Python worker stay
in that session, so this parent can find them all by session id.  The
parent samples their summed RSS, kills the whole session on timeout,
error or signal, reaps what it killed, and prints the worker's result
as the last line of its standard output.

Settings come from the host, never from the environment: cores from the
CPU affinity mask (what ``nproc`` reports), driver heap from
``/proc/meminfo``, and the Spark local dir on disk inside the checkout.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("batch_large", "stream_open_vocab")
# a run must end within 180 s; leave room to kill and reap
RUN_TIMEOUT_S = 165.0
HEAP_SHARE = 0.2          # of MemTotal, for the driver JVM heap
PR_SET_CHILD_SUBREAPER = 36


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_heap_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_kb = int(line.split()[1])
                break
    return max(1024, min(8192, int(total_kb * HEAP_SHARE / 1024)))


# ------------------------------------------------------------ /proc walk

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields after it are space separated
    return raw[raw.rindex(")") + 2:].split()


def session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes whose session id is ``sid``."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        # st[0] = state, st[3] = session id
        if st and st[0] != "Z" and int(st[3]) == sid:
            out.append(int(name))
    return out


def session_rss_bytes(sid: int) -> int:
    """Summed proportional set size: pages the forked Python workers
    share with ``pyspark.daemon`` are counted once, not once each."""
    total = 0
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


def reap_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def kill_session(sid: int, timeout: float = 30.0) -> list[int]:
    """SIGKILL every process of the session until none is left; returns
    the pids still alive at the timeout (normally none)."""
    deadline = time.monotonic() + timeout
    while True:
        pids = session_pids(sid)
        if not pids or time.monotonic() > deadline:
            return pids
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
        # orphans are re-parented to this process (subreaper): reap them
        reap_children()


class RssSampler(threading.Thread):
    def __init__(self, sid: int, period: float = 0.5):
        super().__init__(daemon=True)
        self.sid = sid
        self.period = period
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, session_rss_bytes(self.sid))
            self._stop_evt.wait(self.period)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def _raise_exit(signum, _frame):
    raise SystemExit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "tildener_spark",
                                       "__init__.py")):
        print("perfbench: run from the root of a tildener_spark checkout "
              "(tildener_spark/ not found)", file=sys.stderr)
        return 2

    signal.signal(signal.SIGTERM, _raise_exit)
    # orphaned grandchildren (the JVM, pyspark.daemon) come back to us
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)

    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(root, ".perfbench_work", tag)
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    result_path = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cores = host_cores()

    env = dict(os.environ)
    env.update({
        "PYTHONPATH": root + os.pathsep + env.get("PYTHONPATH", ""),
        "SPARK_DRIVER_MEM": f"{host_heap_mb()}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    submit = [f"--conf spark.sql.warehouse.dir={work}/warehouse"]
    if args.trace:
        ev_dir = os.path.join(work, "eventlog")
        os.makedirs(ev_dir)
        submit += ["--conf spark.eventLog.enabled=true",
                   f"--conf spark.eventLog.dir=file://{ev_dir}",
                   "--conf spark.eventLog.compress=false"]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])

    sys.path.insert(0, root)
    from tildener_spark.session import noise_probe
    probe_before = noise_probe()
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(cores), "--work", work,
           "--result", result_path,
           "--trace-out", os.path.join(out_dir, f"trace-{tag}.json")]
    rc = details = None
    survivors: list[int] = []
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, env=env, cwd=root, stdout=sys.stderr,
                            start_new_session=True)
    sampler = RssSampler(proc.pid)
    sampler.start()
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S:.0f} s, killed",
              file=sys.stderr)
    finally:
        survivors = kill_session(proc.pid)
        proc.wait()
        reap_children()
        sampler.stop()
        # the worker writes its result only when it ran to the end
        if rc in (0, 1) and os.path.exists(result_path):
            with open(result_path) as f:
                details = json.load(f)
        shutil.rmtree(work, ignore_errors=True)
    wall = time.monotonic() - t0
    probe_after = noise_probe()

    if survivors:
        print(f"perfbench: processes survived the kill: {survivors}",
              file=sys.stderr)
        return 3
    if details is None:
        print(f"perfbench: worker failed (exit {rc})", file=sys.stderr)
        return 1
    result = details.pop("result")
    if not args.trace:
        result["metrics"]["peak_rss_mb"] = {
            "value": sampler.peak / 1e6, "unit": "MB"}
    with open(os.path.join(out_dir, "runs.jsonl"), "a") as f:
        f.write(json.dumps({
            "workload": args.workload, "seed": args.seed,
            "trace": args.trace, "cores": cores,
            "heap_mb": host_heap_mb(), "wall_s": round(wall, 2),
            "probe_before": probe_before, "probe_after": probe_after,
            **result, **details}) + "\n")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
