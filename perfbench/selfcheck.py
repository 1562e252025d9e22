"""Self-check of the benchmark's counters on small fixture indexes.

    python3 perfbench/selfcheck.py

Builds three 300-doc indexes (seed 7, seed 7 again, seed 8) and checks,
for a fixed 20-query batch of each:

- ``postings_decoded`` equals the sum of ``df`` over the batch's
  distinct terms, read from ``InvertedIndex.dictionary``;
- ``lists_read`` equals the posting rows holding a batch term, counted
  with pyarrow straight from the structure files (no Spark);
- ``referenced_bytes`` is at least ``index_report``'s
  ``payload_bytes_on_disk``;
- every count (lists read, payload bytes read, postings decoded,
  referenced data bytes) repeats exactly for the same seed and changes
  under another seed.

Prints one JSON object and exits 0 when every check holds, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

SEED = 7
N_DOCS = 300
BATCH = 20
COUNTS = ("lists_read", "payload_bytes_read", "postings_decoded", "referenced_data_bytes")


def fixture_counts(spark, work: str, seed: int, tag: str) -> tuple[dict, list[str]]:
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from wikitfidf_spark.corpus import make_code_files
    from wikitfidf_spark.index.build import (
        IndexConfig, _manifest_path, build_index, index_paths, index_report, load_manifest,
    )
    from wikitfidf_spark.index.query import InvertedIndex

    import layers
    import run

    index_dir = os.path.join(work, tag)
    corpus = make_code_files(spark, n_docs=N_DOCS, seed=seed, n_partitions=2)
    build_index(spark, corpus, index_dir, IndexConfig(n_shards=2), resume=False)
    idx = InvertedIndex(spark, index_dir)
    batch = next(run.batches(run.query_stream(seed), BATCH))
    counts = layers.posting_counts(idx, batch)
    referenced = layers.disk_bytes(index_dir)["referenced_bytes"]
    # the manifest records wall times, so only the data files repeat byte for byte
    counts["referenced_data_bytes"] = referenced - os.path.getsize(_manifest_path(index_dir))

    terms = sorted({t for q in batch for t in q.terms})
    term_set = set(terms)
    df_sum = idx.dictionary.filter(F.col("term").isin(terms)).agg(F.sum("df")).first()[0] or 0
    structure = {
        os.path.join(index_dir, rel) for rel in index_paths(load_manifest(index_dir))["structure"].values()
    }
    arrow_rows = sum(
        sum(1 for t in pq.read_table(path, columns=["term"]).column("term").to_pylist() if t in term_set)
        for path in structure
    )
    on_disk = index_report(index_dir)["payload_bytes_on_disk"]
    problems = []
    if counts["postings_decoded"] != df_sum:
        problems.append(f"{tag}: postings_decoded {counts['postings_decoded']} != sum df {df_sum}")
    if counts["lists_read"] != arrow_rows:
        problems.append(f"{tag}: lists_read {counts['lists_read']} != posting rows {arrow_rows}")
    if referenced < on_disk:
        problems.append(f"{tag}: referenced_bytes {referenced} < payload on disk {on_disk}")
    shutil.rmtree(index_dir)
    return counts, problems


def main() -> int:
    import run

    work = run.prepare(f"selfcheck-{os.getpid()}")
    import proc

    spark = proc.start_spark(proc.spark_conf(work, 2))
    try:
        a, pa = fixture_counts(spark, work, SEED, "a")
        b, pb = fixture_counts(spark, work, SEED, "b")
        c, pc = fixture_counts(spark, work, SEED + 1, "c")
    finally:
        proc.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    problems = pa + pb + pc
    for k in COUNTS:
        if a[k] != b[k]:
            problems.append(f"{k} differs between two same-seed runs: {a[k]} != {b[k]}")
        if a[k] == c[k]:
            problems.append(f"{k} did not change under another seed: {a[k]}")
    print(json.dumps({"ok": not problems, "problems": problems, "same_seed": a, "other_seed": c}))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
