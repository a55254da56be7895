import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parents[1]

# Each case runs in its own interpreter, so end_children() there can only
# signal the processes the case started.
PRELUDE = """
import os, subprocess
from host import _children, adopt_orphans, end_children
adopt_orphans()
"""


def run_case(body: str) -> str:
    out = subprocess.run([sys.executable, "-c", PRELUDE + body], cwd=HERE,
                         capture_output=True, text=True, timeout=60, check=True)
    return out.stdout.strip()


def test_end_children_waits_for_an_adopted_orphan():
    # the shell exits at once; its background sleep is orphaned to the case
    assert run_case("""
subprocess.run(["sh", "-c", "sleep 0.5 &"], check=True)
assert _children(os.getpid())
print(end_children(grace_s=10.0), _children(os.getpid()))
""") == "[] []"


def test_end_children_signals_a_child_that_outlives_the_grace():
    assert run_case("""
proc = subprocess.Popen(["sleep", "30"])
print(end_children(grace_s=0.2) == [proc.pid], _children(os.getpid()))
""") == "True []"


def test_end_children_stops_the_multiprocessing_resource_tracker():
    assert run_case("""
from multiprocessing import resource_tracker
resource_tracker.ensure_running()
assert _children(os.getpid())
print(end_children(grace_s=0.2), _children(os.getpid()))
""") == "[] []"
