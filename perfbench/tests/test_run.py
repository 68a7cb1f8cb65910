"""A run leaves no process behind: children, and the grandchildren they
orphan, are stopped and reaped."""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

# runs in its own interpreter, because stop_processes ends every child of
# the process that calls it
SCENARIO = r'''
import json, subprocess, sys
from perfbench import run

def alive(pid):
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False

sleeper = [sys.executable, "-c", "import time; time.sleep(60)"]
# a child that starts a long-lived grandchild, prints its pid and exits
orphaning = ("import subprocess, sys\n"
             f"g = subprocess.Popen({sleeper!r}, stdout=subprocess.DEVNULL,\n"
             "                     stderr=subprocess.DEVNULL)\n"
             "print(g.pid, flush=True)\n")
run.become_subreaper()
child = subprocess.Popen(sleeper)
grandchild = int(subprocess.run([sys.executable, "-c", orphaning],
                                capture_output=True, text=True,
                                check=True).stdout)
before = [alive(child.pid), alive(grandchild),
          grandchild in run._children()]
run.stop_processes()
print(json.dumps({"before": before,
                  "after": [alive(child.pid), alive(grandchild)],
                  "children": run._children()}))
'''


def test_stop_processes_ends_children_and_orphaned_grandchildren():
    out = subprocess.run([sys.executable, "-c", SCENARIO], cwd=ROOT,
                         capture_output=True, text=True, check=True,
                         timeout=120)
    res = json.loads(out.stdout.splitlines()[-1])
    # both ran, and the orphaned grandchild was re-parented to the run
    assert res["before"] == [True, True, True]
    assert res["after"] == [False, False]
    assert res["children"] == []
