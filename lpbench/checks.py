"""Untimed output checks, read straight from the files the pipeline wrote
(pyarrow, not Spark), against expectations computed from the generated
input with the pure-Python reference parser (``oracle.parse_event``).

A check returns a list of failure messages; an empty list means the
outputs are correct.
"""

from __future__ import annotations

import collections
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

_MASK = (1 << 64) - 1


def row_checksum(doc_ids: pa.Array, tokens: pa.Array) -> int:
    """Order-free checksum of (doc_id, tokens) rows: the sum, mod 2^64,
    of an 8-byte blake2b digest per row."""
    doc_ids = pc.cast(doc_ids, pa.string()).to_pylist()
    lengths = pc.list_value_length(tokens).to_numpy(zero_copy_only=False)
    flat = pc.list_flatten(tokens).to_numpy(zero_copy_only=False).astype("<i4")
    buf = flat.tobytes()
    ends = np.cumsum(lengths) * 4
    starts = ends - lengths * 4
    total = 0
    for d, s, e in zip(doc_ids, starts, ends):
        dig = hashlib.blake2b(d.encode() + b"\0" + buf[s:e], digest_size=8).digest()
        total += int.from_bytes(dig, "little")
    return total & _MASK


def expectations(corpus: pa.Table) -> dict:
    """What every complete run over `corpus` must produce."""
    from logparse_spark.oracle import parse_event

    hist: collections.Counter = collections.Counter()
    for doc_id, toks, src in zip(corpus.column("doc_id").to_pylist(),
                                 corpus.column("tokens").to_pylist(),
                                 corpus.column("source").to_pylist()):
        ev = parse_event(doc_id, toks, src)
        hist[(ev["family"], int(ev["rule_id"]))] += 1
    sources = collections.Counter(corpus.column("source").to_pylist())
    return {
        "rows": corpus.num_rows,
        "checksum": row_checksum(corpus.column("doc_id"),
                                 corpus.column("tokens").combine_chunks()),
        "histogram": dict(hist),
        "rows_by_source": dict(sources),
    }


def data_files(root: str) -> list[str]:
    """Parquet data files under `root` (no _SUCCESS / hidden files)."""
    out = []
    for dirpath, _, filenames in os.walk(root):
        out += [os.path.join(dirpath, f) for f in filenames
                if f.endswith(".parquet") and not f.startswith(("_", "."))]
    return sorted(out)


def read_sinks(sinks: str) -> pa.Table:
    files = data_files(sinks)
    if not files:
        raise ValueError(f"no sink files under {sinks}")
    dset = ds.dataset(files, format="parquet",
                      partitioning=ds.partitioning(flavor="hive"),
                      partition_base_dir=sinks)
    return dset.to_table(columns=["doc_id", "tokens", "rule_id", "family",
                                  "source", "bucket", "level"])


def check_sinks(sinks: str, expect: dict) -> tuple[list[str], dict]:
    """The binding invariants over the sink tree: row count, token
    checksum, every doc_id in exactly one sink, and the rule histogram
    equal to the reference parser's.  Returns (failures, stats)."""
    fails: list[str] = []
    try:
        tbl = read_sinks(sinks)
    except (OSError, ValueError, pa.ArrowException) as e:
        return [f"sinks unreadable: {e}"], {}
    files = data_files(sinks)
    stats = {"sink_rows": tbl.num_rows, "sink_files": len(files),
             "sink_bytes": sum(os.path.getsize(f) for f in files)}
    if tbl.num_rows != expect["rows"]:
        fails.append(f"sink rows {tbl.num_rows} != input rows {expect['rows']}")
    if row_checksum(tbl.column("doc_id"), tbl.column("tokens").combine_chunks()) \
            != expect["checksum"]:
        fails.append("(doc_id, tokens) checksum of the sinks != the input's")
    ids = tbl.column("doc_id")
    n_unique = len(pc.unique(ids))
    if n_unique != tbl.num_rows:
        fails.append(f"{tbl.num_rows - n_unique} doc_ids appear in more than one sink row")
    got = collections.Counter()
    for fam, rid in zip(tbl.column("family").to_pylist(),
                        tbl.column("rule_id").to_pylist()):
        got[(str(fam), int(rid))] += 1
    if dict(got) != expect["histogram"]:
        diff = {k: (got.get(k, 0), expect["histogram"].get(k, 0))
                for k in set(got) | set(expect["histogram"])
                if got.get(k, 0) != expect["histogram"].get(k, 0)}
        fails.append(f"sink rule histogram != reference parser's on "
                     f"{len(diff)} (family, rule_id) cells, e.g. "
                     f"{sorted(diff.items())[:3]}")
    stats["table"] = tbl
    return fails, stats


def grain_rows(tbl: pa.Table, partitions: set[tuple[str, int]] | None) -> int:
    """Distinct (source, bucket, family, rule_id, level) cells among the
    rows of `partitions` (all rows when None): the metric grain size."""
    cols = [tbl.column(c).to_pylist() for c in
            ("source", "bucket", "family", "rule_id", "level")]
    cells = {t for t in zip(*cols)
             if partitions is None or (str(t[0]), int(t[1])) in partitions}
    return len(cells)


def metric_shortfall(out: str, rows: int) -> dict:
    """Rows the metric and manifest tables fail to account for (the
    resume defect: each run overwrites them with its own rows only)."""
    hist_files = data_files(os.path.join(out, "metrics", "rule_histogram"))
    hist_rows = sum(pq.read_table(f, columns=["cnt"]).column("cnt").to_numpy().sum()
                    for f in hist_files)
    manifest_rows = manifest_parts = 0
    mdir = os.path.join(out, "manifests")
    for name in sorted(os.listdir(mdir)) if os.path.isdir(mdir) else ():
        if name.startswith(("_", ".")):
            continue
        with open(os.path.join(mdir, name)) as f:
            for line in f:
                if line.strip():
                    rec = json.loads(line)  # one JSON object per partition
                    manifest_rows += int(rec["routed_rows"])
                    manifest_parts += 1
    return {
        "histogram_rows": int(hist_rows),
        "manifest_rows": manifest_rows,
        "manifest_partitions": manifest_parts,
        "metric_rows_missing": (rows - int(hist_rows)) + (rows - manifest_rows),
    }
