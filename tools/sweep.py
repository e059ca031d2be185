#!/usr/bin/env python3
"""One-command round proof suite (VERDICT r10 #8): full-inventory bench
sweeps at sf0.1 / sf1 / sf10, scaling reports, and a notes skeleton —
the methodology rounds 7-10 re-derived by hand each time.

    python3 tools/sweep.py r11              # sf0.1 + sf1 + sf10
    python3 tools/sweep.py r11 --scales 0.1 # just the gate sweep

Produces:
    bench/{label}_sf0.1.json      full per-query record (+ bytes and recall lines)
    bench/{label}_sf1.json        10x fixture (ScaleGen into /tmp/sf1)
    bench/{label}_sf10.json       100x fixture (256 partitions, 16g heap)
    bench/{label}_scaling_sf01_to_sf1.txt / _sf10.txt
    bench/{label}_notes.txt       skeleton with totals/failures filled in

Scaled fixtures are generated with graft.tools.ScaleGen iff missing.
"""
import argparse
import json
import re
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BASE_SF = "/root/testdata/sf0.1"

# per-scale config: (fixture dir, ScaleGen factor, shuffle partitions,
# driver heap). Partition/heap levers per BASELINE.md r8: partitions
# scale with the data so per-task state stays in memory; heap 16g at
# 100x single-box (a real cluster's 2-4 GB/core equivalent).
SCALES = {
    "0.1": (BASE_SF, None, "32", "8g"),
    "1": ("/tmp/sf1", 10, "32", "8g"),
    "10": ("/tmp/sf10", 100, "256", "16g"),
}


def run(cmd, env=None, capture=False):
    print(f"[sweep] $ {' '.join(cmd)}", flush=True)
    full_env = dict(__import__("os").environ)
    if env:
        full_env.update(env)
    if capture:
        return subprocess.run(cmd, cwd=ROOT, env=full_env, capture_output=True, text=True)
    return subprocess.run(cmd, cwd=ROOT, env=full_env)


def ensure_fixture(scale):
    sf_dir, factor, _, _ = SCALES[scale]
    if Path(sf_dir, "documents.parquet").exists():
        return
    print(f"[sweep] generating {sf_dir} (ScaleGen x{factor})", flush=True)
    r = run(["sbt", "-batch", f"runMain graft.tools.ScaleGen {BASE_SF} {sf_dir} {factor}"])
    if r.returncode != 0:
        sys.exit(f"ScaleGen failed for {sf_dir}")


def bench(scale, label, repeat=1):
    sf_dir, _, partitions, heap = SCALES[scale]
    out = ROOT / "bench" / f"{label}_sf{scale}.json"
    env = {
        "SPARK_GRAFT_CPUS": "32",
        "SPARK_GRAFT_SF_DIR": sf_dir,
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": partitions,
        "SPARK_DRIVER_MEM": heap,
        "SPARK_GRAFT_BENCH_OUT": str(out),
    }
    t0 = time.time()
    main_cmd = "runMain graft.Bench" + (f" --repeat {repeat}" if repeat > 1 else "")
    r = run(["sbt", "-batch", main_cmd], env=env, capture=True)
    wall = time.time() - t0
    # Bench wrote the full total-line to `out`; the bytes line (shuffle/
    # spill accounting) is stdout-only — append it so scaling_report sees
    # both. sbt prefixes stdout with [info].
    bytes_line = None
    for line in r.stdout.splitlines():
        m = re.search(r'(\{"metric":"bytes".*\})', line)
        if m:
            bytes_line = m.group(1)
    if bytes_line and out.exists():
        with open(out, "a") as f:
            f.write(bytes_line + "\n")
    ok = out.exists() and r.returncode == 0
    print(f"[sweep] sf{scale}: rc={r.returncode} wall={wall:.0f}s -> {out}", flush=True)
    if not ok:
        print(r.stdout[-3000:])
        print(r.stderr[-2000:])
        sys.exit(f"bench failed at sf{scale}")
    return out


# Recall evidence is read from the registered queries' own Verify dumps:
# the approximate queries, plus the exact top-k the composite is scored
# against. The full O(n^2) SRP check runs only at the gate scale (the
# exact validator's tractability bound).
RECALL_QUERIES = ["ann_recall_at_k", "ann_cosine_topk", "ann_ivfpq_topk",
                  "dedup_embedding_cosine_lsh_hi"]
FULL_SRP_QUERY = "dedup_embedding_cosine_lsh"

# dedup_embedding_cosine_lsh_hi's planting (every 20th vector gains a copy
# at id + 1000000) cut to the planted pairs whose true cosine clears its
# 0.9 threshold: O(n/20) pairs instead of the oracle's all-pairs join.
# Where the full oracle runs, recall_lines checks the two agree.
PLANTED_SQL = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 20 = 0
), p AS (
  SELECT vec_id, v,
         list_transform(generate_series(1, len(v)), i -> v[i] + 0.15 * v[1 + (i % len(v))]) AS w
  FROM e
)
SELECT vec_id AS id_a, vec_id + 1000000 AS id_b FROM p
WHERE list_cosine_similarity(v, w) >= 0.9
"""


def recall_lines(sf_dir, verify_dir):
    """The round record's recall lines, one compact JSON object per line,
    from a Verify run over RECALL_QUERIES (plus FULL_SRP_QUERY when its
    dump is present) in `verify_dir` and the tables in `sf_dir`:
    the ann_recall_at_k rows as they are, composite IVF-PQ recall@5
    against ann_cosine_topk, and SRP recall (full against the query's own
    oracle SQL, planted against PLANTED_SQL)."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'")
    for q in RECALL_QUERIES + [FULL_SRP_QUERY]:
        if Path(verify_dir, q).exists():
            con.execute(f"CREATE VIEW {q} AS SELECT * FROM '{verify_dir}/{q}/*.parquet'")
    with open(Path(verify_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)

    def one(sql):
        return con.execute(sql).fetchone()[0]

    def line(**kv):
        return json.dumps(kv, separators=(",", ":"))

    def ratio(hits, total):
        return 1.0 if total == 0 else hits / total

    def srp(config, n, truth_sql):
        exact = one(f"SELECT COUNT(*) FROM ({truth_sql})")
        hits = one(f"SELECT COUNT(*) FROM {config} JOIN ({truth_sql}) USING (id_a, id_b)")
        return line(probe="srp_recall", config=config, n=n, exact_pairs=exact,
                    srp_pairs=hits, recall=ratio(hits, exact))

    n = one("SELECT COUNT(*) FROM embeddings")
    out = []
    if Path(verify_dir, FULL_SRP_QUERY).exists():
        out.append(srp(FULL_SRP_QUERY, n, oracles[FULL_SRP_QUERY]))
        hi = oracles["dedup_embedding_cosine_lsh_hi"]
        drift = one(f"SELECT COUNT(*) FROM (({hi}) EXCEPT ({PLANTED_SQL})"
                    f" UNION ALL (({PLANTED_SQL}) EXCEPT ({hi})))")
        if drift:
            sys.exit(f"planted truth differs from the dedup_embedding_cosine_lsh_hi oracle "
                     f"on {drift} pairs")
    planted_n = n + one("SELECT COUNT(*) FROM embeddings WHERE vec_id % 20 = 0")
    out.append(srp("dedup_embedding_cosine_lsh_hi", planted_n, PLANTED_SQL))
    for method, returned, hits, exact, rec in con.execute(
            "SELECT method, n_returned, n_hits, n_exact, recall FROM ann_recall_at_k"
            " ORDER BY list_position(['lsh', 'ivf', 'pq'], method)").fetchall():
        out.append(line(probe="ann_recall_at_k", method=method, n_returned=returned,
                        n_hits=hits, n_exact=exact, recall=rec))
    exact = one("SELECT COUNT(*) FROM ann_cosine_topk")
    hits = one("SELECT COUNT(*) FROM ann_ivfpq_topk JOIN ann_cosine_topk"
               " USING (query_id, neighbor_id)")
    out.append(line(probe="ann_recall_at_k", method="ivfpq", n=n, n_hits=hits,
                    n_exact=exact, recall=ratio(hits, exact)))
    return out


def recall(scale, label, out):
    """Append the recall lines (recall_lines) to the scale's bench record,
    after the bytes line, so the recall evidence lives IN the round
    record instead of ad-hoc side files."""
    sf_dir, _, partitions, heap = SCALES[scale]
    env = {
        "SPARK_GRAFT_CPUS": "32",
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": partitions,
        "SPARK_DRIVER_MEM": heap,
    }
    names = RECALL_QUERIES + ([FULL_SRP_QUERY] if scale == "0.1" else [])
    t0 = time.time()
    with tempfile.TemporaryDirectory(prefix="graft-recall-") as vdir:
        r = run(["sbt", "-batch", f"runMain graft.Verify {sf_dir} {vdir} {','.join(names)}"],
                env=env, capture=True)
        errors_path = Path(vdir, "errors.json")
        errors = json.loads(errors_path.read_text()) if errors_path.exists() else None
        missing = [q for q in names if not Path(vdir, q).exists()]
        if r.returncode != 0 or errors is None or errors or missing:
            print(r.stdout[-2000:])
            sys.exit(f"recall Verify failed at sf{scale}: rc={r.returncode} "
                     f"errors={errors} missing={missing}")
        lines = recall_lines(sf_dir, vdir)
    print(f"[sweep] recall sf{scale}: wall={time.time()-t0:.0f}s {len(lines)} probe lines",
          flush=True)
    if not out.exists():
        # fail loudly: silently skipping the append would report recall
        # success while the round record carries no recall evidence
        sys.exit(f"bench record {out} missing; refusing to drop recall lines")
    with open(out, "a") as f:
        for l in lines:
            f.write(l + "\n")
    return lines


def summarize(path):
    with open(path) as f:
        d = json.loads(f.readline())
    qs = d["queries"]
    failed = sorted(k for k, v in qs.items() if v == -1.0)
    skipped = sorted(k for k, v in qs.items() if v == -2.0)
    ran = {k: v for k, v in qs.items() if v > 0}
    return {
        "total_sec": round(sum(ran.values()), 1),
        "n_queries": len(qs),
        "n_failed": len(failed),
        "failed": failed,
        "guard_skipped": skipped,
        "slowest": sorted(ran.items(), key=lambda kv: -kv[1])[:8],
    }


def scale_section(report):
    """Tool-emitted scale claims for the notes (VERDICT r11 #4): the
    worst-ratio and nonzero-spill tables are VERBATIM lines from the
    scaling report, so the notes can never contradict it (the r11 notes
    hand-summarized spill and got it wrong)."""
    lines = report.read_text().splitlines()
    if not lines:
        return ""
    header = lines[0]
    body = [l for l in lines[1:] if l.strip() and not l.startswith(("totals:", "guard-skipped"))]
    tail = [l for l in lines if l.startswith(("totals:", "guard-skipped"))]
    spill = [l for l in body if l.split()[-1] != "0"]
    out = [f"### Scale section — emitted from {report.name} (verbatim lines; do not hand-edit)"]
    out += tail
    out.append("")
    out.append("worst ratios (top 10):")
    out.append(header)
    out += body[:10]
    out.append("")
    out.append("nonzero spill:")
    if spill:
        out.append(header)
        out += spill
    else:
        out.append("(none)")
    out.append("")
    return "\n".join(out) + "\n"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("label", help="round label, e.g. r11")
    ap.add_argument("--scales", default="0.1,1,10")
    ap.add_argument("--repeat", type=int, default=1,
                    help="per-query repeats; Bench records medians (r15 sf10 protocol)")
    ap.add_argument("--no-recall", action="store_true",
                    help="skip the per-scale recall lines (on by default; r15 verdict #6)")
    args = ap.parse_args()
    scales = [s.strip() for s in args.scales.split(",")]
    for s in scales:
        if s not in SCALES:
            sys.exit(f"unknown scale {s}; choose from {list(SCALES)}")

    outs = {}
    recalls = {}
    for s in scales:
        ensure_fixture(s)
        outs[s] = bench(s, args.label, args.repeat)
        if not args.no_recall:
            recalls[s] = recall(s, args.label, outs[s])

    # A partial re-run (e.g. `--scales 10` after an interrupted sweep)
    # reuses this label's already-recorded files for the scaling report
    # and the notes, so the round record stays complete.
    for s in SCALES:
        prior = ROOT / "bench" / f"{args.label}_sf{s}.json"
        if s not in outs and prior.exists():
            outs[s] = prior

    base = outs.get("0.1")
    for s, suffix in (("1", "sf01_to_sf1"), ("10", "sf01_to_sf10")):
        if base and s in outs:
            factor = SCALES[s][1]
            report = ROOT / "bench" / f"{args.label}_scaling_{suffix}.txt"
            with open(report, "w") as f:
                subprocess.run(
                    [sys.executable, "tools/scaling_report.py", str(base), str(outs[s]), str(factor)],
                    cwd=ROOT, stdout=f)
            print(f"[sweep] scaling report -> {report}", flush=True)

    commit = subprocess.run(
        ["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True, text=True).stdout.strip()
    notes = ROOT / "bench" / f"{args.label}_notes.txt"
    with open(notes, "w") as f:
        f.write(f"# Round {args.label} bench notes\n\n")
        f.write(f"Commit: {commit}\nDate: {time.strftime('%Y-%m-%d %H:%M UTC', time.gmtime())}\n\n")
        for s in [s for s in SCALES if s in outs]:
            m = summarize(outs[s])
            f.write(f"## {args.label}_sf{s}.json\n")
            f.write(f"- total {m['total_sec']} s over {m['n_queries']} queries; "
                    f"{m['n_failed']} failed {m['failed']}; guard-skipped {m['guard_skipped']}\n")
            f.write("- slowest: "
                    + ", ".join(f"{k} {v:.1f}s" for k, v in m["slowest"]) + "\n")
            for l in recalls.get(s, []):
                f.write(f"- recall: {l}\n")
            f.write("\n")
        for s, suffix in (("1", "sf01_to_sf1"), ("10", "sf01_to_sf10")):
            report = ROOT / "bench" / f"{args.label}_scaling_{suffix}.txt"
            if s in outs and report.exists():
                f.write(scale_section(report))
        f.write("## Isolated triple-runs (fill in for any apparent outlier)\n\n")
        f.write("  for i in 1 2 3; do SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SF_DIR="
                f"{BASE_SF} sbt -batch 'runMain graft.Bench <query>'; done\n\n")
        f.write(f"## graft.tools.Probe {BASE_SF} <query> 1 "
                "(the formatted plans of the slowest new/changed queries)\n\n")
    print(f"[sweep] notes skeleton -> {notes}", flush=True)


if __name__ == "__main__":
    main()
