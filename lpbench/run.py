"""Benchmark of the logparse_spark pipeline (parse -> enrich -> route ->
aggregate, with the resume ledger), run from the root of a checkout:

    python3 lpbench/run.py --workload fresh --seed 1 --seconds 8 --trace 0

Workloads (see lpbench/README.md for why each was chosen):

- ``fresh``: ``run_pipeline(resume=False)`` into an empty output.
- ``resume_tail``: the ``resume=True`` run that finishes a crashed run
  which committed all but the zipf-tail sources.

One closed-loop client: the driver issues one Spark action at a time to
the session ``session.get_spark`` builds.  Every timed iteration is
followed by untimed output checks; no iteration is discarded.  The last
stdout line is the result object, the line before it the full report.
``--trace 1`` reports the per-layer metrics instead (see spans.py).

Everything the run writes (inputs, outputs, Spark local/tmp/warehouse
dirs, event logs, sockets) goes to a fresh temporary directory outside
the checkout, which is removed at exit; the checkout is listed before
and after and the run fails if anything in it changed.
"""

import sys

# before any project import: byte-compiling would write __pycache__
# into the checkout
sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("fresh", "resume_tail")


def _inside(path: str, root: str) -> bool:
    path, root = os.path.realpath(path), os.path.realpath(root)
    return path == root or path.startswith(root + os.sep)


def snapshot(root: str) -> dict[str, tuple]:
    """(kind, size, mtime_ns, mode) for every entry under `root`,
    ignored files included."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        for name in dirnames + filenames:
            p = os.path.join(dirpath, name)
            st = os.lstat(p)
            kind = "d" if os.path.isdir(p) and not os.path.islink(p) else "f"
            out[os.path.relpath(p, root)] = (
                kind, 0 if kind == "d" else st.st_size,
                0 if kind == "d" else st.st_mtime_ns, st.st_mode)
    return out


def snapshot_diff(before: dict, after: dict) -> list[str]:
    diff = [f"added {p}" for p in sorted(set(after) - set(before))]
    diff += [f"removed {p}" for p in sorted(set(before) - set(after))]
    diff += [f"changed {p}" for p in sorted(set(before) & set(after))
             if before[p] != after[p]]
    return diff


def host_info() -> dict:
    with open("/proc/meminfo") as f:
        mem = {line.split(":")[0]: int(line.split()[1]) for line in f}
    return {"affinity_cores": len(os.sched_getaffinity(0)),
            "ram_mb": mem["MemTotal"] // 1024,
            "available_mb": mem.get("MemAvailable", 0) // 1024}


def cpu_sample(sample_s: float = 0.3) -> dict:
    """Host-wide busy and steal shares over `sample_s`, from /proc/stat
    (steal: time the hypervisor ran something else on our CPUs)."""
    def _read():
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return vals[3] + vals[4], vals[7], sum(vals)

    i0, s0, t0 = _read()
    time.sleep(sample_s)
    i1, s1, t1 = _read()
    total = max(1, t1 - t0)
    return {"busy": 1.0 - (i1 - i0) / total, "steal": (s1 - s0) / total}


def spark_confs(work: str, ram_mb: int, trace: bool) -> dict[str, str]:
    """The only confs set on top of get_spark's defaults: keep every file
    outside the checkout and fit the driver JVM under host RAM."""
    tmp = os.path.join(work, "tmp")
    confs = {
        # get_spark defaults to 48g; a quarter of RAM, capped at 2g
        "spark.driver.memory": f"{max(1024, min(2048, ram_mb // 4))}m",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.python.unix.domain.socket.dir": os.path.join(work, "sock"),
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.executorEnv.PYTHONDONTWRITEBYTECODE": "1",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return confs


def prepare_env(work: str) -> None:
    """Environment the driver JVM and its Python workers inherit."""
    for d in ("local", "tmp", "warehouse", "sock", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    # SPARK_LOCAL_DIRS overrides spark.local.dir when set
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    if sys.path[0] != ROOT:
        sys.path.insert(0, ROOT)


def code_identity() -> dict:
    """Which code was measured: the resolved package path, a hash of the
    package sources and, when the checkout is a git repository, HEAD."""
    import hashlib
    import subprocess

    import logparse_spark

    pkg = os.path.dirname(os.path.abspath(logparse_spark.__file__))
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in sorted(os.walk(pkg)):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                p = os.path.join(dirpath, name)
                h.update(os.path.relpath(p, pkg).encode() + b"\0")
                with open(p, "rb") as f:
                    h.update(f.read())
    try:
        head = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        head = None
    return {"package_path": pkg, "package_sha256": h.hexdigest(), "git_head": head}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "logparse_spark", "__init__.py")):
        print(f"lpbench: no logparse_spark package in {ROOT}; run from the "
              "root of a full checkout", file=sys.stderr)
        return 2

    # a SIGTERM (e.g. from `timeout`) unwinds through the cleanup below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    before = snapshot(ROOT)
    work = tempfile.mkdtemp(prefix="lpbench-")
    if _inside(work, ROOT):
        shutil.rmtree(work)
        print(f"lpbench: temporary directory {work} is inside the checkout; "
              "point TMPDIR elsewhere", file=sys.stderr)
        return 2

    status = 1
    try:
        prepare_env(work)
        import workloads

        host = host_info()
        host["cpu_before"] = cpu_sample()
        confs = spark_confs(work, host["ram_mb"], bool(args.trace))
        report = workloads.run(args.workload, args.seed, args.seconds,
                               bool(args.trace), work, confs)
        host["cpu_after"] = cpu_sample()
        report.update(host=host, confs=confs, code=code_identity(),
                      args=vars(args), checkout=ROOT)
        status = 0
    except Exception:  # noqa: BLE001 - report, clean up, exit non-zero
        traceback.print_exc()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    changed = snapshot_diff(before, snapshot(ROOT))
    if changed:
        print("lpbench: the run changed the checkout:", file=sys.stderr)
        for line in changed[:50]:
            print("  " + line, file=sys.stderr)
        return 3
    if status:
        return status

    print(json.dumps({"report": report}, default=str))
    res = report["result"]
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": report["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
