"""tools/jvm_threads.py — per-thread-class CPU of a command's JVMs.

Pure Python (no Spark): pins the thread-name classifier on the names
``/proc`` reports (truncated to 15 characters) and the ``stat`` parser on
this test process's own threads.
"""

import importlib.util
import os
import threading
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_module():
    spec = importlib.util.spec_from_file_location(
        "jvm_threads", os.path.join(REPO, "tools", "jvm_threads.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


jt = _load_module()


@pytest.mark.parametrize(
    "name, cls",
    [
        ("C2 CompilerThre", "jit.c2"),
        ("C1 CompilerThre", "jit.c1"),
        ("GC Thread#3", "gc"),
        ("G1 Conc#0", "gc"),
        ("G1 Main Marker", "gc"),
        ("Executor task l", "tasks"),
        ("Thread-4", "driver"),
        ("dag-scheduler-e", "driver"),
        ("main", "other"),
        ("VM Thread", "other"),
        ("Thread-4-extra", "other"),
        ("shuffle-server-", "other"),
    ],
)
def test_classify(name, cls):
    assert jt.classify(name) == cls


def test_parse_stat_name_with_spaces_and_parens():
    fields = ["S"] + [str(i) for i in range(4, 14)] + ["250", "50"] + ["0"] * 30
    line = "4242 (Executor (x) task) " + " ".join(fields)
    name, cpu_s = jt.parse_stat(line)
    assert name == "Executor (x) task"
    assert cpu_s == pytest.approx(300 / os.sysconf("SC_CLK_TCK"))


def test_parse_stat_on_own_threads():
    stop = time.process_time() + 0.3
    while time.process_time() < stop:  # give this thread measurable CPU
        pass
    tid = threading.get_native_id()
    with open(f"/proc/self/task/{tid}/stat") as f:
        name, cpu_s = jt.parse_stat(f.read())
    with open(f"/proc/self/task/{tid}/comm") as f:
        assert name == f.read().rstrip("\n")
    with open(f"/proc/self/task/{tid}/schedstat") as f:
        ran_s = int(f.read().split()[0]) / 1e9
    # utime+stime is tick-sampled; the scheduler's own runtime bounds it
    assert 0.2 < cpu_s <= ran_s + 0.05


def test_by_class_sums_last_samples():
    last = {
        (1, 10): ("C2 CompilerThre", 3.0),
        (1, 11): ("C2 CompilerThre", 1.5),
        (1, 12): ("Executor task l", 2.0),
        (2, 20): ("main", 0.5),
    }
    totals = jt.by_class(last)
    assert totals == {
        "jit.c2": 4.5, "jit.c1": 0.0, "gc": 0.0, "tasks": 2.0,
        "driver": 0.0, "other": 0.5,
    }
