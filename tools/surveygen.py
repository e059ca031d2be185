#!/usr/bin/env python3
"""Regenerate SURVEY.md §8 mechanically from the query registry
(VERDICT r13 #7: the hand-written round-1 coverage map lagged the registry
by five rounds; a generated table can't drift).

    sbt -batch "runMain graft.tools.SurveyDump" > /tmp/surveydump.txt
    python3 tools/surveygen.py /tmp/surveydump.txt

For every registered query: name, oracle-backed?, the registration site
(file:line of its QueryDef — the impl pointer; the lambda there names the
operator it drives), and the ScalaTest suites that reference the query by
name (spec pointer; oracle-backed queries are additionally gated by the
driver's DuckDB compare each round — CORRECTNESS_r{N}.json).
"""
import re
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SURVEY = ROOT / "SURVEY.md"


# operator object -> the ScalaTest suite that exercises it (suite files
# under src/test/scala/graft; asserted to exist at generation time)
OP_SUITES = {
    "Dedup": ["DedupSpec"],
    "SpanDedup": ["SpanDedupSpec"],
    "Similarity": ["SimilaritySpec", "AnnRecallSpec"],
    "Embeddings": ["EmbeddingsSpec"],
    "TextOps": ["TextOpsSpec"],
    "CurationOps": ["CurationOpsSpec"],
    "Retrieval": ["RetrievalSpec"],
    "Sampling": ["SamplingSpec"],
    "Packing": ["PackingSpec"],
    "Sketches": ["AnalyticsSpec"],
    "Multimodal": ["MediaDecoderContractSpec", "TextOpsSpec"],
    "EventStream": ["StreamingSpec", "SessionizeSpec"],
    "Cdc": ["CdcSpec", "StreamingUpsertSpec"],
    "AsofJoin": ["AsofBucketSpec", "TimeSeriesSpec"],
    "TimeSeries": ["TimeSeriesSpec"],
    "Skew": ["AnalyticsSpec"],
    "QueryExec": ["QueryExecSpec"],
    "Transforms": ["TransformSpec"],
    "TagPivot": ["TagPivotSpec"],
    "TopKAgg": ["GlobalRankSpec"],
    "Tables": ["FixtureContractSpec"],
    "Decontam": ["DecontamSpec"],
    "Bpe": ["BpeSpec"],
    "TokenPack": ["TokenPackSpec"],
}


def registry_sites():
    """name -> (file:line, operator objects referenced by the QueryDef
    lambda — scanned until the oracle SQL literal starts)."""
    sites, ops = {}, {}
    for f in sorted((ROOT / "src/main/scala/graft/queries").glob("*.scala")):
        rel = f.relative_to(ROOT)
        lines = f.read_text().splitlines()
        for i, line in enumerate(lines, 1):
            m = re.search(r'"([A-Za-z0-9_]+)"\s*->\s*QueryDef\(', line)
            if not m:
                continue
            name = m.group(1)
            sites[name] = f"{rel}:{i}"
            body = []
            for j in range(i - 1, min(i + 40, len(lines))):
                if 'Some("""' in lines[j] or re.search(r",\s*None\s*,", lines[j]):
                    break
                body.append(lines[j])
            found = []
            for b in body:
                for om in re.finditer(
                        r"\b(?:graft\.(?:ops|streaming|extract|transform|functions)\.)?"
                        r"(" + "|".join(OP_SUITES) + r")\.[a-zA-Z]", b):
                    if om.group(1) not in found:
                        found.append(om.group(1))
            ops[name] = found
    return sites, ops


def spec_refs(names):
    """query name -> sorted set of spec class basenames referencing it."""
    refs = {n: set() for n in names}
    for f in sorted((ROOT / "src/test/scala").rglob("*.scala")):
        text = f.read_text()
        base = f.stem
        for n in names:
            if f'"{n}"' in text:
                refs[n].add(base)
    return {n: sorted(s) for n, s in refs.items()}


def load_dump(path):
    rows, total = [], None
    for line in Path(path).read_text().splitlines():
        line = re.sub(r"^\[info\]\s*", "", line)
        if line.startswith("SURVEYROW\t"):
            _, name, oracle, desc = line.split("\t", 3)
            rows.append((name, oracle == "true", desc.strip()))
        elif line.startswith("SURVEYTOTAL\t"):
            total = int(line.split("\t")[1])
    assert total is not None and len(rows) == total, (len(rows), total)
    return rows


def main():
    dump = sys.argv[1] if len(sys.argv) > 1 else None
    if dump is None:
        r = subprocess.run(
            ["sbt", "-batch", "runMain graft.tools.SurveyDump"],
            cwd=ROOT, capture_output=True, text=True)
        tmp = Path("/tmp/surveydump.txt")
        tmp.write_text(r.stdout)
        dump = tmp
    rows = load_dump(dump)
    sites, ops = registry_sites()
    refs = spec_refs([r[0] for r in rows])
    n_oracle = sum(1 for _, o, _ in rows if o)
    suite_files = {p.stem for p in (ROOT / "src/test/scala/graft").glob("*Spec.scala")}
    for op, suites in OP_SUITES.items():
        missing = [s for s in suites if s not in suite_files]
        assert not missing, f"OP_SUITES[{op}] names absent suites: {missing}"

    lines = [
        "## 8. Registered-query coverage map (generated)",
        "",
        f"**{len(rows)} registered queries; {n_oracle} oracle-backed "
        f"(DuckDB hash-compare each round via `graft.Verify` → "
        f"`CORRECTNESS_r{{N}}.json`), {len(rows) - n_oracle} rows-only + "
        "spec-gated.** Generated by `tools/surveygen.py` from "
        "`graft.tools.SurveyDump` (the live registry) — regenerate per "
        "round, do not hand-edit:",
        "",
        "```bash",
        'sbt -batch "runMain graft.tools.SurveyDump" > /tmp/surveydump.txt',
        "python3 tools/surveygen.py /tmp/surveydump.txt",
        "```",
        "",
        "The *registered at* column is the impl pointer (the `QueryDef` "
        "lambda there names the operator it drives); *specs* lists the "
        "ScalaTest suites referencing the query by name (operator-level "
        "suites cover the underlying op even where a query name does not "
        "appear verbatim — the oracle compare is the per-query gate).",
        "",
        "| # | query | oracle | registered at | specs | description |",
        "|---|---|---|---|---|---|",
    ]
    for i, (name, oracle, desc) in enumerate(sorted(rows), 1):
        suites = list(refs[name])
        for op in ops.get(name, []):
            for s in OP_SUITES.get(op, []):
                if s not in suites:
                    suites.append(s)
        spec = ", ".join(suites) if suites else "oracle-gated"
        o = "✓" if oracle else "rows-only"
        desc = desc.replace("|", "\\|")
        lines.append(
            f"| {i} | `{name}` | {o} | `{sites.get(name, '?')}` | {spec} | {desc} |")
    lines.append("")

    text = SURVEY.read_text()
    m = re.search(r"^## 8\. .*$", text, re.M)
    assert m, "SURVEY.md has no §8 header"
    SURVEY.write_text(text[: m.start()] + "\n".join(lines) + "\n")
    print(f"wrote SURVEY §8: {len(rows)} rows ({n_oracle} oracle-backed)")


if __name__ == "__main__":
    main()
