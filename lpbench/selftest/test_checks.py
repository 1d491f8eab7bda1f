"""Self-test of the benchmark at a tiny size, without Spark: each output
check passes on a correct sink tree and fails on one corrupted in its
way; plus the span and event-log arithmetic and the checkout guard.

    PYTHONDONTWRITEBYTECODE=1 python3 -m pytest lpbench/selftest -q -p no:cacheprovider
"""

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from logparse_spark.oracle import parse_event  # noqa: E402


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    tbl = workloads.make_corpus(str(d / "input"), 300, seed=5)
    return tbl, checks.expectations(tbl)


def write_sinks(root, tbl):
    """The sink layout run_pipeline writes: family=/source=/bucket= dirs,
    rows parsed by the reference parser."""
    rows = {}
    for doc_id, toks, src in zip(tbl.column("doc_id").to_pylist(),
                                 tbl.column("tokens").to_pylist(),
                                 tbl.column("source").to_pylist()):
        ev = parse_event(doc_id, toks, src)
        rows.setdefault((ev["family"], src), []).append(
            (doc_id, toks, ev["rule_id"], ev["level"]))
    for (fam, src), rs in rows.items():
        d = os.path.join(root, f"family={fam}", f"source={src}", "bucket=0")
        os.makedirs(d)
        pq.write_table(pa.table({
            "doc_id": [r[0] for r in rs],
            "tokens": pa.array([r[1] for r in rs], pa.list_(pa.int32())),
            "rule_id": pa.array([r[2] for r in rs], pa.int32()),
            "level": [r[3] for r in rs],
        }), os.path.join(d, "part-0.parquet"))


@pytest.fixture
def sinks(tmp_path, corpus):
    root = str(tmp_path / "sinks")
    write_sinks(root, corpus[0])
    return root


def rewrite(path, fn):
    pq.write_table(fn(pq.read_table(path)), path)


def test_correct_sinks_pass(sinks, corpus):
    fails, stats = checks.check_sinks(sinks, corpus[1])
    assert fails == []
    assert stats["sink_rows"] == 300


def test_dropped_file_fails(sinks, corpus):
    os.remove(checks.data_files(sinks)[0])
    fails, _ = checks.check_sinks(sinks, corpus[1])
    assert any("sink rows" in f for f in fails)
    assert any("checksum" in f for f in fails)


def test_changed_token_fails_checksum_only(sinks, corpus):
    def bump(t):
        toks = t.column("tokens").to_pylist()
        toks[0] = [toks[0][0] ^ 1] + toks[0][1:]
        return t.set_column(1, "tokens", pa.array(toks, pa.list_(pa.int32())))

    rewrite(checks.data_files(sinks)[0], bump)
    fails, _ = checks.check_sinks(sinks, corpus[1])
    assert len(fails) == 1 and "checksum" in fails[0]


def test_doc_in_two_sinks_fails(sinks, corpus):
    files = checks.data_files(sinks)
    first = pq.read_table(files[0]).slice(0, 1)
    rewrite(files[-1], lambda t: pa.concat_tables([t, first.cast(t.schema)]))
    fails, _ = checks.check_sinks(sinks, corpus[1])
    assert any("more than one sink" in f for f in fails)


def test_changed_rule_id_fails_histogram(sinks, corpus):
    rewrite(checks.data_files(sinks)[0], lambda t: t.set_column(
        2, "rule_id", pc.add(t.column("rule_id"), pa.scalar(1000, pa.int32()))))
    fails, _ = checks.check_sinks(sinks, corpus[1])
    assert len(fails) == 1 and "histogram" in fails[0]


def test_metric_shortfall_counts_missing_rows(tmp_path):
    out = tmp_path / "out"
    (out / "metrics" / "rule_histogram").mkdir(parents=True)
    pq.write_table(pa.table({"cnt": pa.array([60, 30], pa.int64())}),
                   out / "metrics" / "rule_histogram" / "part-0.parquet")
    (out / "manifests").mkdir()
    (out / "manifests" / "part-0.txt").write_text(
        json.dumps({"source": "node-001", "bucket": 0, "routed_rows": 100}) + "\n")
    got = checks.metric_shortfall(str(out), 100)
    assert got["metric_rows_missing"] == 10
    assert got["manifest_partitions"] == 1


def test_snapshot_diff_sees_added_and_changed_files(tmp_path):
    (tmp_path / "a").write_text("x")
    before = run.snapshot(str(tmp_path))
    (tmp_path / "b").write_text("y")
    (tmp_path / "a").write_text("xx")
    assert run.snapshot_diff(before, run.snapshot(str(tmp_path))) == ["added b", "changed a"]


def test_exits_non_zero_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "lpbench")
    proc = subprocess.run(
        [sys.executable, "lpbench/run.py", "--workload", "fresh", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
        env={**os.environ, "PYTHONDONTWRITEBYTECODE": "1"})
    assert proc.returncode != 0
    assert proc.stdout == ""


class _FakeContext:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setJobDescription(self, value):
        self.props["spark.job.description"] = value


def test_span_coverage_counts_direct_children_once():
    import spans

    class _Spark:
        sparkContext = _FakeContext()

    tracer = spans.Tracer(_Spark())
    with tracer.span("main.run_pipeline") as root:
        with tracer.span("route.call"):
            assert _Spark.sparkContext.props["spark.job.description"] == "route.call"
            with tracer.span("inner"):
                pass
    assert _Spark.sparkContext.props["spark.job.description"] is None
    for s, (a, b) in zip(tracer.spans, [(0, 10), (1, 9), (2, 8)]):
        s["start"], s["end"] = a, b
    got = spans.span_summary(tracer.spans, tracer.spans.index(root))
    assert got["coverage"] == 0.8
    assert got["by_name"] == {"route.call": 8, "inner": 6}


def test_event_log_busy_time_merges_overlapping_jobs(tmp_path):
    import spans

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [1], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4000},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 6000,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 7000},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = spans.EventLog(str(tmp_path))
    assert log.busy_s(0.0, 10.0) == 4.0
    assert log.busy_s(3.5, 6.5) == 1.0
