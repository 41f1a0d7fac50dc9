"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 8 --trace 0

Run from the repository root.  The run happens in a child process
(``perfbench.flow``) whose working directory and scratch space (Spark
local dirs, JVM and Python temp files, the parquet stores) live in a
fresh directory under ``.perfbench_tmp/`` in the root, removed when the
run ends, so a run leaves no files behind.  The child gets
``SPARK_GRAFT_CPUS`` = the number of usable cores and an explicit
``SPARK_GRAFT_DRIVER_MEM``; its whole process group is stopped before
this script exits.  The last line printed is the run's result object.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DRIVER_MEM = "2g"
TIMEOUT_S = 170.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "legal_data_ingestion_rag_pipeline_spark").is_dir():
        print("perfbench: the program is not in this checkout", file=sys.stderr)
        return 2

    (ROOT / ".perfbench_tmp").mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix="run-", dir=ROOT / ".perfbench_tmp"))
    tmp = work / "tmp"
    tmp.mkdir()
    env = dict(os.environ)
    env.update(
        PYTHONPATH=str(ROOT),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=str(tmp),
        TMPDIR=str(tmp),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",  # no /tmp/hsperfdata_* file
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
            f"--conf spark.local.dir={tmp} pyspark-shell"
        ),
    )
    cmd = [sys.executable, "-m", "perfbench.flow", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace)]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S:.0f} s", file=sys.stderr)
        out = ""
    finally:
        stop_group(proc)
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_tmp").rmdir()
        except OSError:
            pass  # another run still uses it
    sys.stdout.write(out)
    return proc.returncode if proc.returncode else (0 if out.strip() else 1)


def stop_group(proc: subprocess.Popen) -> None:
    """Stop the child and everything it started (the JVM), and wait
    until none of them is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline and group_alive(proc.pid):
            proc.poll()
            time.sleep(0.1)
        if not group_alive(proc.pid):
            break
    proc.wait()


def group_alive(pgid: int) -> bool:
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


if __name__ == "__main__":
    sys.exit(main())
