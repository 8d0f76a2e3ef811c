"""Output checker for the graft benchmark.

stream-small-files: every timed pass must resolve each manifest job exactly
once, as the manifest expects. A success must have a byte-identical
destination file and no DLQ row; a fault must have exactly one DLQ row with
the expected error_type and no success row. Rows for unknown jobs, leaked
graft-transfer-*.tmp files and a pool above its size also count as failures.

analytics-mix: every query's result must match its DuckDB oracle under
the comparison rules of the repository's selfcheck script (sorted column
names, row count, then cell values positionally or, failing that, as
sorted rows; floats exact, NaN equal to NaN; nested output columns and
DuckDB HUGEINT-widened decimal columns fail).
"""
import hashlib
import json
import math
import os
import re

import duckdb
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pyarrow.types

POOL_SIZE = 4
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
_RAW_JOB_ID = re.compile(r'"job_id"\s*:\s*"([^"]+)"')


def _read(path, columns):
    if not os.path.isdir(path):
        return []
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)
    return table.to_pylist()


def _digest(path):
    try:
        with open(path, "rb") as f:
            return hashlib.blake2b(f.read(), digest_size=16).digest()
    except OSError:
        return None


def dlq_job_id(original_message):
    """The job a DLQ row belongs to: its job_id, or for an unparseable
    message the job id embedded in the raw text."""
    try:
        msg = json.loads(original_message)
    except (TypeError, ValueError):
        return None
    if "raw" in msg:
        m = _RAW_JOB_ID.search(msg["raw"] or "")
        return m.group(1) if m else None
    return msg.get("job_id")


def check_transfer_pass(pass_rec, manifest, src_root, src_digests):
    """Return (failed, resolved, payload_bytes, dlq_counts) for one pass."""
    pdir = pass_rec["dir"]
    results = _read(os.path.join(pdir, "results"), ["job_id", "status", "bytes"])
    dlq = _read(os.path.join(pdir, "dlq"), ["original_message", "error_type"])
    success, dead = {}, {}
    for r in results:
        if r["status"] == "success":
            success.setdefault(r["job_id"], []).append(r)
    dlq_counts = {}
    for r in dlq:
        dead.setdefault(dlq_job_id(r["original_message"]), []).append(r["error_type"])
        dlq_counts[r["error_type"]] = dlq_counts.get(r["error_type"], 0) + 1
    known = {j["job_id"] for j in manifest["jobs"]}
    failed = sum(len(v) for k, v in success.items() if k not in known)
    failed += sum(len(v) for k, v in dead.items() if k not in known)
    for j in manifest["jobs"]:
        ok_rows, dlq_rows = success.get(j["job_id"], []), dead.get(j["job_id"], [])
        if j["expect"] == "success":
            good = len(ok_rows) == 1 and not dlq_rows
            if good:
                want = src_digests.get(j["src"])
                if want is None:
                    want = src_digests[j["src"]] = _digest(src_root + j["src"])
                good = _digest(os.path.join(pdir, "dst") + j["dst"]) == want
        else:
            good = not ok_rows and dlq_rows == [j["expect"]]
        failed += 0 if good else 1
    failed += pass_rec.get("temp_leftover", 0)
    failed += 1 if pass_rec.get("pool_created_max", 0) > POOL_SIZE else 0
    resolved = sum(len(v) for v in success.values()) + len(dlq)
    payload = sum(r["bytes"] for v in success.values() for r in v)
    return failed, resolved, payload, dlq_counts


def _norm(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def _rows(table):
    cols = sorted(table.column_names)
    data = {c: table.column(c).to_pylist() for c in cols}
    return [tuple(_norm(data[c][i]) for c in cols) for i in range(table.num_rows)], cols


def compare(got, want):
    """None if the Spark result `got` matches the oracle result `want`,
    else a one-line reason."""
    nested = [f.name for f in got.schema if pyarrow.types.is_nested(f.type)]
    if nested:
        return f"nested-typed output columns {nested}"
    decs = [f.name for f in want.schema if pyarrow.types.is_decimal(f.type)]
    if decs:
        return f"oracle emits decimal columns {decs}"
    grows, gcols = _rows(got)
    wrows, wcols = _rows(want)
    if gcols != wcols:
        return f"columns spark={gcols} duckdb={wcols}"
    if len(grows) != len(wrows):
        return f"rows spark={len(grows)} duckdb={len(wrows)}"
    if grows == wrows:
        return None

    def key(r):
        return tuple((v is None, str(v)) for v in r)
    if sorted(grows, key=key) == sorted(wrows, key=key):
        return None
    bad = sum(1 for a, b in zip(grows, wrows) if a != b)
    return f"{bad}/{len(grows)} rows differ"


def check_analytics(out_dir, fixtures, queries):
    """Return {query: reason} for every query whose result is wrong."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixtures}/{t}.parquet')")
    bad = {}
    for q in queries:
        if q not in oracles:
            bad[q] = "no oracle"
            continue
        try:
            got = pq.read_table(os.path.join(out_dir, "results", q))
        except Exception as e:  # missing or unreadable output
            bad[q] = f"no spark output ({e.__class__.__name__})"
            continue
        try:
            want = con.execute(oracles[q]).arrow()
        except Exception as e:
            bad[q] = f"oracle error: {e}"
            continue
        reason = compare(got, want)
        if reason:
            bad[q] = reason
    con.close()
    return bad
