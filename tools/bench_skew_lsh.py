"""LSH hot-bucket soak: what the ``max_bucket`` guard is actually worth.

Synthesizes a degenerate corpus from sf0.1 documents — amplified x4
(~20k docs) with 80% of docs given IDENTICAL text, so every band of
their MinHash signatures lands in ONE bucket (the all-identical-corpus
worst case: boilerplate mirrors, parked domains, template spam). Then
builds candidate pairs two ways:

- ``capped``   — ``minhash_candidate_pairs(max_bucket=1000)``: the hot
                 bucket is dropped (recall on the degenerate mass, not
                 correctness, is the cost) and the clean 20% still pairs;
- ``uncapped`` — the same builder with the cap disabled: the hot bucket
                 self-join materializes ~(0.8n)²/2 x 4 bands candidate
                 rows before the distinct.

One subprocess per variant with a hard timeout — at web scale the
uncapped build is not "slower", it does not terminate; the soak makes
that observable at 20k docs. Prints its BENCH_SCALING.md section to
stdout.

Usage: ``python tools/bench_skew_lsh.py`` (parent), or
``python tools/bench_skew_lsh.py <variant>``.
"""

from __future__ import annotations

import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.1"
AMPLIFY = 4
HOT_FRAC = 0.8
CAP = 1000
TIMEOUT_S = 300
HOT_TEXT = (
    "lorem ipsum dolor sit amet the same boilerplate page body repeated "
    "across every mirror of the parked domain network"
)
VARIANTS = ("capped", "uncapped")


def build_corpus(spark):
    from pyspark.sql import functions as F

    from project_bigdata_spark.sources import load_table

    d = (
        load_table(spark, SF_DIR, "documents")
        .withColumn("_copy", F.explode(F.sequence(F.lit(1), F.lit(AMPLIFY))))
        .withColumn("doc_id", F.col("doc_id") * AMPLIFY + F.col("_copy"))
        .drop("_copy")
    )
    hot = F.abs(F.xxhash64("doc_id")) % 100 < int(HOT_FRAC * 100)
    return d.withColumn(
        "text", F.when(hot, F.lit(HOT_TEXT)).otherwise(F.col("text"))
    ).repartition(32).persist()


def run_variant(which: str) -> None:
    from project_bigdata_spark.operators import dedup as DD
    from project_bigdata_spark.session import get_spark

    spark = get_spark(app_name=f"bench-skew-lsh-{which}")
    corpus = build_corpus(spark)
    n_docs = corpus.count()
    sigs = DD.minhash_signatures(corpus, "doc_id", "text").persist()
    sigs.count()
    cap = CAP if which == "capped" else 1 << 40
    t0 = time.perf_counter()
    n_pairs = DD.minhash_candidate_pairs(sigs, "doc_id", max_bucket=cap).count()
    sec = time.perf_counter() - t0
    print(f"SKEWRESULT {which} {n_docs} {n_pairs} {sec:.2f}", flush=True)


def main() -> None:
    from project_bigdata_spark.session import DEFAULT_CPUS

    results: dict[str, str] = {}
    n_docs = 0
    for which in VARIANTS:
        try:
            proc = subprocess.run(
                [sys.executable, __file__, which],
                capture_output=True,
                text=True,
                timeout=TIMEOUT_S,
            )
            line = next(
                (l for l in proc.stdout.splitlines()
                 if l.startswith("SKEWRESULT")),
                None,
            )
            if line:
                _, _, nd, np_, sec = line.split()
                n_docs = int(nd)
                results[which] = f"{float(sec):.2f}s ({int(np_):,} pairs)"
            else:
                results[which] = f"FAILED (exit {proc.returncode})"
        except subprocess.TimeoutExpired:
            results[which] = f"TIMEOUT ({TIMEOUT_S}s)"
        print(f"{which}: {results[which]}", file=sys.stderr)

    hot = int(n_docs * HOT_FRAC) if n_docs else int(20_000 * HOT_FRAC)
    rows = {
        "capped": f"hot bucket dropped at {CAP}; clean tail still pairs",
        "uncapped": f"~{int(hot * hot / 2 * 4 / 1e6)}M candidate rows from "
        "the hot bucket before distinct",
    }
    section = [
        "## LSH hot-bucket soak (`tools/bench_skew_lsh.py`)",
        "",
        f"sf0.1 documents amplified x{AMPLIFY} ({n_docs:,} docs), "
        f"{int(HOT_FRAC * 100)}% given IDENTICAL text — every signature "
        "band lands in ONE bucket (boilerplate mirrors / template spam, "
        "the degenerate corpus the `max_bucket` guard exists for). "
        f"Candidate-pair build, one JVM per variant, local[{DEFAULT_CPUS}]:",
        "",
        "| variant | outcome | |",
        "|---|---|---|",
    ]
    for which in VARIANTS:
        label = (
            f"`minhash_candidate_pairs(max_bucket={CAP})`"
            if which == "capped"
            else "same builder, cap disabled"
        )
        section.append(f"| {label} | {results[which]} | {rows[which]} |")
    section += [
        "",
        "The capped build's cost tracks the CLEAN fraction of the corpus; "
        "the uncapped build is quadratic in the hot bucket — at 20k docs "
        "it already blows the time budget, and at 100 TB it is not slow, "
        "it is non-terminating. Dropped hot buckets cost recall on "
        "already-degenerate mass (route them through exact-hash dedup, "
        "which handles identical text for free).",
    ]
    print("\n".join(section))


if __name__ == "__main__":
    if len(sys.argv) > 1:
        run_variant(sys.argv[1])
    else:
        main()
