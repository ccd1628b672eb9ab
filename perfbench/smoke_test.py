"""Smoke test of the benchmark harness: nothing it starts outlives it.

Run from the root of a checkout, with no other benchmark run going
(takes about two minutes)::

    python3 perfbench/smoke_test.py

Checks, each on a fresh run of ``run.py``:

1. a run that finishes prints one JSON result line and leaves no
   process of its session alive;
2. a run whose ``run.py`` is SIGKILLed mid-build (it cannot clean up)
   leaves none alive: the worker notices its parent is gone and kills
   its own session;
3. a run whose ``run.py`` gets SIGTERM mid-build leaves none alive;
4. in a directory holding only ``BENCHMARK.json`` and ``perfbench/``
   the benchmark exits non-zero without printing a result.

"Alive" means any process, ``java`` and ``pyspark.daemon`` included,
that was seen in the worker's session while the run went on.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import _stat, session_pids  # noqa: E402

RUN = [sys.executable, os.path.join(HERE, "run.py")]
WORK = ".perfbench_work"


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _start_time(pid: int) -> str | None:
    st = _stat(pid)
    return st[19] if st and st[0] != "Z" else None


def _worker_of(parent: int) -> int | None:
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st and int(st[1]) == parent and \
                    "worker.py" in _cmdline(int(name)):
                return int(name)
    return None


class Watch(threading.Thread):
    """Records every process of the worker's session while it runs."""

    def __init__(self, parent: int):
        super().__init__(daemon=True)
        self.parent = parent
        self.seen: dict[int, tuple[str | None, str]] = {}
        self.done = threading.Event()

    def run(self) -> None:
        sid = None
        while not self.done.is_set():
            if sid is None:
                sid = _worker_of(self.parent)
            if sid is not None:
                for pid in session_pids(sid):
                    if pid not in self.seen:
                        self.seen[pid] = (_start_time(pid), _cmdline(pid))
            time.sleep(0.2)

    def survivors(self, wait: float = 30.0) -> list[str]:
        self.done.set()
        self.join()
        deadline = time.monotonic() + wait
        while True:
            alive = [f"{pid} {cmd[:120]}"
                     for pid, (start, cmd) in self.seen.items()
                     if start is not None and _start_time(pid) == start]
            if not alive or time.monotonic() > deadline:
                return alive
            time.sleep(0.5)

    def kinds(self) -> set[str]:
        return {k for _s, cmd in self.seen.values()
                for k in ("java", "pyspark.daemon") if k in cmd}


def _launch(workload: str, seed: int):
    return subprocess.Popen(
        RUN + ["--workload", workload, "--seed", str(seed),
               "--seconds", "1", "--trace", "0"],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)


def check_finished_run() -> None:
    p = _launch("stream_open_vocab", 1)
    w = Watch(p.pid)
    w.start()
    out, _err = p.communicate(timeout=200)
    left = w.survivors()
    assert not os.listdir(WORK), f"work dirs left: {os.listdir(WORK)}"
    assert p.returncode == 0, f"run failed: exit {p.returncode}"
    result = json.loads(out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert w.kinds() == {"java", "pyspark.daemon"}, w.kinds()
    assert not left, f"survivors after a finished run: {left}"


def check_killed_run(sig: int) -> None:
    p = _launch("batch_large", 2)
    w = Watch(p.pid)
    w.start()
    threading.Thread(target=p.stderr.read, daemon=True).start()
    # kill once the first build runs Python workers
    deadline = time.monotonic() + 120
    while "pyspark.daemon" not in w.kinds():
        assert time.monotonic() < deadline, w.kinds()
        time.sleep(0.5)
    time.sleep(3)
    p.send_signal(sig)
    p.wait(timeout=60)
    left = w.survivors()
    assert not left, f"survivors after {signal.Signals(sig).name}: {left}"
    assert not os.listdir(WORK), f"work dirs left: {os.listdir(WORK)}"


def check_bare_directory() -> None:
    root = os.path.dirname(HERE)
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(root, WORK))
    try:
        shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload",
             "batch_large", "--seed", "1", "--seconds", "1",
             "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180)
        assert p.returncode != 0, "bare directory run exited 0"
        assert not p.stdout.strip(), f"printed a result: {p.stdout!r}"
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    os.makedirs(WORK, exist_ok=True)
    assert not os.listdir(WORK), f"{WORK} is not empty: another run?"
    for name, fn in (("finished run", check_finished_run),
                     ("SIGKILL mid-build", lambda: check_killed_run(
                         signal.SIGKILL)),
                     ("SIGTERM mid-build", lambda: check_killed_run(
                         signal.SIGTERM)),
                     ("bare directory", check_bare_directory)):
        t0 = time.monotonic()
        fn()
        print(f"ok  {name} ({time.monotonic() - t0:.0f} s)", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
