"""N vs 4N scaling evidence for the round-6 TEXT-CURATION operators.

Same protocol as scripts/scaling_bench.py (taskset-pinned fresh JVMs,
noop-sink timing that materializes every output column, adaptive warmup
drop, median of settled runs, 1%-rows tiny twin for per-master fixed
overhead o solved from t_full = o + W, t_tiny = o + 0.01 W), applied to
the curation pipeline shape: repetition_stats (two explode->groupBy
chains — the shuffle-bearing stage) + token_counts + pii_scrub + lang_id
projections joined on doc_id into one keep/drop verdict (curate_e2e minus
the exact-dedup gate, which is degenerate on an all-unique synthetic
corpus).

The corpus is generated ONCE with pure column math (no Python): ~40-word
documents from a 64-word vocab (stopwords included so lang_id has real
work; one email-shaped token so the PII regexes have real hits), a newline
every 8 words so repetition_stats sees multi-line documents.

Usage: python scripts/scaling_curate.py [n_docs] [n_runs]
Writes BENCH/scaling_curate.json; prose goes to BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DATA = os.environ.get("SPARK_GRAFT_SCALING_DIR", "/tmp/scaling")

VOCAB = (
    "the a and key agg row scan slow fast table value part hash merge batch "
    "line sort window query big small data column join order group stream "
    "filter spark customer index cache plan stage shuffle spill disk core "
    "node task executor driver broadcast salt skew bucket codec tile pixel "
    "vector raster layer zoom metro region point bob@spam.io x1 y2 z3 "
    "north south east west"
).split()
assert len(VOCAB) == 64


def generate(n_docs: int) -> str:
    path = f"{DATA}/docs_{n_docs}.parquet"
    if os.path.exists(path + "/_SUCCESS"):
        return path
    from pyspark.sql import functions as F

    from mvt_wrangler_spark.session import get_spark

    spark = get_spark(master="local[32]", app_name="curate-gen")
    spark.sparkContext.setLogLevel("ERROR")
    ids = spark.range(0, n_docs, 1, 64)
    n_tok = 40
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    # word i = vocab[hash(id, i) % 64]; newline every 8 words. Plain input
    # column references inside the lambda are leaves (no re-inlined
    # subtree — the O(n^2) lambda trap only bites COMPUTED arrays).
    words = F.transform(
        F.sequence(F.lit(0), F.lit(n_tok - 1)),
        lambda i: F.concat(
            F.element_at(vocab, (F.pmod(F.xxhash64(F.col("id"), i), F.lit(64))
                                 + 1).cast("int")),
            F.when(F.pmod(i, F.lit(8)) == 7, F.lit("\n")).otherwise(F.lit(" "))),
    )
    df = ids.select(
        F.col("id").alias("doc_id"),
        F.rtrim(F.array_join(words, "")).alias("text"),
    )
    df.write.mode("overwrite").parquet(path)
    spark.stop()
    return path


def run_once(master: str, path: str, n_runs: int) -> None:
    """Child-process entry: fresh JVM, n_runs curation passes, JSON out."""
    from pyspark.sql import functions as F

    from mvt_wrangler_spark.operators import text as T
    from mvt_wrangler_spark.session import get_spark

    extra = dict(json.loads(os.environ.get("SPARK_GRAFT_EXTRA_CONF", "{}")))
    spark = get_spark(master=master, app_name=f"curate-{master}", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(path)
    rows_in = docs.count()  # warm page cache; not measured

    runs = []
    for _ in range(n_runs):
        t0 = time.time()
        tok = T.token_counts(docs).select("doc_id", "n_ws_tokens", "n_bpe_tokens")
        rep = T.repetition_stats(docs).select("doc_id", "dup_line_frac",
                                              "top_bigram_frac")
        pii = T.pii_scrub(docs).select("doc_id", "has_pii")
        lang = T.lang_id(docs)
        j = (tok.join(rep, "doc_id").join(pii, "doc_id").join(lang, "doc_id"))
        verdict = j.select(
            "doc_id", "n_ws_tokens", "n_bpe_tokens", "dup_line_frac",
            "top_bigram_frac", "has_pii", "lang_pred",
            (~F.col("has_pii") & (F.col("lang_pred") != "unk")
             & (F.col("dup_line_frac") < 0.3)).alias("keep"))
        verdict.write.format("noop").mode("overwrite").save()
        runs.append({"sec": round(time.time() - t0, 3), "rows_in": rows_in})
    print(json.dumps({"master": master, "runs": runs}))
    spark.stop()


def measure(master: str, ncpus: int, path: str, n_runs: int) -> dict:
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    out = subprocess.run(
        ["taskset", "-c", f"0-{ncpus - 1}", sys.executable, __file__,
         "run", master, path, str(n_runs)],
        capture_output=True, text=True, timeout=3600, env=env)
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    r = json.loads(line)
    runs = r["runs"]
    floor_sec = min(x["sec"] for x in runs)
    k = 1
    while k < len(runs) - 2 and runs[k]["sec"] > 1.5 * floor_sec:
        k += 1
    r["runs"] = runs[k:]
    r["median_sec"] = statistics.median(x["sec"] for x in r["runs"])
    return r


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "run":
        run_once(sys.argv[2], sys.argv[3], int(sys.argv[4]))
        return
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    t0 = time.time()
    path = generate(n_docs)
    n_tiny = max(n_docs // 100, 100_000)
    tiny = generate(n_tiny)
    print(f"data ready in {time.time() - t0:.0f}s: {path}", file=sys.stderr)

    payload = {"n_docs": n_docs, "n_tiny": n_tiny,
               "timing_protocol": "noop-sink",
               "scenario": "token_counts + repetition_stats + pii_scrub + "
                           "lang_id joined verdict (curate shape)",
               "masters": {}}
    for master, ncpus in (("local[8]", 8), ("local[32]", 32)):
        full = measure(master, ncpus, path, n_runs)
        small = measure(master, ncpus, tiny, max(3, n_runs // 2))
        t_full, t_tiny = full["median_sec"], small["median_sec"]
        o = max((t_tiny - 0.01 * t_full) / 0.99, 0.0)
        payload["masters"][master] = {
            "median_sec": t_full, "tiny_median_sec": t_tiny,
            "overhead_sec": round(o, 3),
            "work_sec": round(t_full - o, 3),
            "runs": full["runs"], "tiny_runs": small["runs"],
            "rows_per_sec": round(n_docs / t_full, 1)}
        print(f"{master}: {t_full:.1f}s median (tiny {t_tiny:.1f}s, "
              f"o={o:.1f}s)", file=sys.stderr)

    m8 = payload["masters"]["local[8]"]
    m32 = payload["masters"]["local[32]"]
    payload["raw_efficiency"] = round(m8["median_sec"] / m32["median_sec"] / 4, 3)
    if m32["work_sec"] > 0:
        payload["corrected_efficiency"] = round(
            m8["work_sec"] / m32["work_sec"] / 4, 3)
    with open(os.path.join(REPO, "BENCH", "scaling_curate.json"), "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps({"raw_efficiency": payload["raw_efficiency"],
                      "corrected": payload.get("corrected_efficiency")}))


if __name__ == "__main__":
    main()
