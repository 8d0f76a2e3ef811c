"""Seeded input generator for the graft benchmark.

Everything a run feeds the program is a pure function of (workload, seed):
the same seed writes byte-identical files. The program under test receives
only the inputs (`in/`); the expected-outcome manifest (`manifest.json`)
stays with the checker.

stream-small-files writes:
  in/src/...              source files, the root of the SRC FTP server
  in/messages/*.jsonl     the job backlog (JSON-lines, one job per line)
  in/workload.properties  what the harness needs to wire servers and passes
  manifest.json           expected outcome of every backlog job

analytics-mix writes in/mix.txt, the query order for the run.
"""
import json
import math
import os
import random

SRC, DST, FLAKY = "SRC", "DST", "FLAKY"
# A STOR to FLAKY accepts this many payload bytes, then the server drops the
# data and control connections without a 226 (FakeFtpServer.storKill*). Every
# generated file is larger, so each FLAKY job dies mid-STOR.
KILL_AFTER_BYTES = 16

# Fixed backlog sizes keep per-pass walls comparable across seeds; the seed
# varies sizes, paths, fan-out, order and the fault schedule.
STREAM_JOBS = 2000
STREAM_MESSAGE_FILES = 8
STREAM_SIZE = (64, 4096)
STREAM_FLAKY_JOBS = 4

# (error_type, share of the stream backlog) for the seeded fault mix
STREAM_FAULTS = (("not_found", 0.05), ("parse", 0.01), ("config", 0.01))

BATCH_FAMILY = ["q50_dup_clusters", "q255_hashed_ngram_classifier", "q47_ftp_dsv2_source"]
STREAM_FAMILY = ["s39_stream_classifier_gate", "s14_ftp_stream_source"]


def stratified_log_sizes(rng, n, lo, hi):
    """n sizes, log-uniform over [lo, hi], one draw per equal-width stratum of
    log-size, shuffled: seeded like a plain log-uniform draw, but the total
    stays within a few percent of its expectation for every seed."""
    span = math.log(hi) - math.log(lo)
    sizes = [int(math.exp(math.log(lo) + span * (i + rng.random()) / n))
             for i in range(n)]
    rng.shuffle(sizes)
    return [min(max(s, lo), hi) for s in sizes]


def _write(path, data):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


def _job_line(job_id, src_host, src_path, dst_host, dst_path):
    return json.dumps({
        "job_id": job_id,
        "source": {"hostname": src_host, "path": src_path},
        "destination": {"hostname": dst_host, "path": dst_path},
    }, separators=(",", ":"))


def _fanout(rng, files, top_lo, top_hi):
    """Seeded directory tree: a top level of top_lo..top_hi dirs, each with
    1..4 subdirs. Returns one directory per file."""
    tops = rng.randint(top_lo, top_hi)
    subs = [rng.randint(1, 4) for _ in range(tops)]
    out = []
    for _ in range(files):
        t = rng.randrange(tops)
        out.append(f"/d{t:02d}/e{rng.randrange(subs[t])}")
    return out


def _write_lines(dirpath, lines, nfiles):
    os.makedirs(dirpath, exist_ok=True)
    per = -(-len(lines) // nfiles)
    for k in range(nfiles):
        chunk = lines[k * per:(k + 1) * per]
        if chunk:
            with open(os.path.join(dirpath, f"part-{k:03d}.jsonl"), "w") as f:
                f.write("\n".join(chunk) + "\n")


def gen_stream(seed, root):
    rng = random.Random(f"stream-small-files/{seed}")
    n = STREAM_JOBS
    sizes = stratified_log_sizes(rng, n, *STREAM_SIZE)
    dst_dirs = _fanout(rng, n, 8, 32)
    src_dirs = [f"/s{rng.randrange(16):02d}" for _ in range(n)]
    kinds = []
    for _ in range(n):
        u, kind, acc = rng.random(), "ok", 0.0
        for name, share in STREAM_FAULTS:
            acc += share
            if u < acc:
                kind = name
                break
        kinds.append(kind)
    ok = [i for i, k in enumerate(kinds) if k == "ok"]
    for i in rng.sample(ok, STREAM_FLAKY_JOBS):
        kinds[i] = "io"
    jobs, lines = [], []
    for i in range(n):
        jid = f"j{seed}-{i:05d}"
        src = f"{src_dirs[i]}/f{i:05d}.bin"
        dst = f"{dst_dirs[i]}/o{i:05d}.bin"
        host = {"io": FLAKY, "config": f"NOHOST{i % 3}"}.get(kinds[i], DST)
        if kinds[i] != "not_found":
            _write(root + "/in/src" + src, rng.randbytes(sizes[i]))
        if kinds[i] == "parse":
            # truncated JSON: unparseable, but it still carries the job id
            # so the checker can match the DLQ row's raw text to this job
            line = f'{{"job_id":"{jid}","source":{{"hostname":"{SRC}","path":"{src}"'
        else:
            line = _job_line(jid, SRC, src, host, dst)
        lines.append(line)
        jobs.append({"job_id": jid, "expect": "success" if kinds[i] == "ok" else kinds[i],
                     "src": src, "dst": dst})
    order = list(range(n))
    rng.shuffle(order)
    _write_lines(root + "/in/messages", [lines[i] for i in order], STREAM_MESSAGE_FILES)
    return jobs


def gen_mix(seed, root):
    rng = random.Random(f"analytics-mix/{seed}")
    batch, stream = list(BATCH_FAMILY), list(STREAM_FAMILY)
    rng.shuffle(batch)
    rng.shuffle(stream)
    os.makedirs(root + "/in", exist_ok=True)
    with open(root + "/in/mix.txt", "w") as f:
        f.write("\n".join(batch + stream) + "\n")
    return batch + stream


WORKLOADS = ("stream-small-files", "analytics-mix")


def generate(workload, seed, root):
    """Write the inputs for one run under `root`; return the manifest."""
    if workload == "analytics-mix":
        manifest = {"workload": workload, "queries": gen_mix(seed, root)}
    else:
        jobs = gen_stream(seed, root)
        # paths relative to the run directory, so the inputs are byte-identical
        # wherever a run puts them
        props = {"messages": "in/messages", "src_root": "in/src", "jobs": len(jobs),
                 "flaky_kills": STREAM_FLAKY_JOBS, "kill_after_bytes": KILL_AFTER_BYTES}
        with open(root + "/in/workload.properties", "w") as f:
            f.write("".join(f"{k}={v}\n" for k, v in sorted(props.items())))
        manifest = {"workload": workload, "jobs": jobs}
    with open(root + "/manifest.json", "w") as f:
        json.dump(manifest, f, indent=0, sort_keys=True)
    return manifest
