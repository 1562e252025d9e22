"""Per-layer measurements, taken from outside the engine: the benchmark
times calls into the public functions of ``wikitfidf_spark`` modules
and reads the build's own records (``BuildResult.metrics``, the
manifest ``phases``, ``index_report``)."""

from __future__ import annotations

import os
import random
import statistics
import time

from checks import batch_equals_single, topk_matches_relational, topk_structure

BUILD_PHASES = ("tf", "dictionary", "doclens", "structure", "docmeta")
RUNGS = ("R0", "R1", "R2", "R3", "R4")
# the posting columns the fused-state ``topk_batch`` plan shuffles to its
# per-shard scorers (``InvertedIndex._posting_rows``); the tf/dl streams
# of the combined file are projected away there, and here
BLOCK_COLUMNS = (
    "block_firsts", "block_lasts", "block_counts", "block_doc_offs",
    "block_max_score", "block_score_offs",
)
SERVING_COLUMNS = (
    "shard", "term", "sub_shard", "n_docs", "docs_payload", "scores_payload",
    *BLOCK_COLUMNS,
)


def median(xs):
    """Median, or NaN (reported as null) when nothing was measured."""
    return statistics.median(xs) if xs else float("nan")


# ---------------------------------------------------------------- serving ladder


def ladder(spark, idx, batch, tracer) -> dict:
    """Probe jobs on one op's own batch, each a rung that adds one layer
    of the ``topk_batch`` plan to the previous one:

    R0 a no-op job; R1 the term-pruned posting scan, projected to the
    columns the serving plan shuffles and reading every one of them;
    R2 R1's rows grouped by shard into a Python worker that returns
    nothing (exchange + Arrow hop); R3 as R2 but decoding every row
    with the serving decode; R4 the full ``topk_batch`` without the
    driver collect.  R1 also returns the totals of the rows it read."""
    from pyspark.sql import functions as F

    terms = sorted({t for q in batch for t in q.terms})
    rows = idx.postings.filter(F.col("term").isin(terms)).select(*SERVING_COLUMNS)
    scan = rows.agg(
        F.count(F.lit(1)).alias("lists_read"),
        F.sum("n_docs").alias("postings_decoded"),
        F.sum(F.octet_length("docs_payload") + F.octet_length("scores_payload"))
        .alias("payload_bytes_read"),
        # referenced so that the scan reads the block columns too
        F.sum(sum(F.size(c) for c in BLOCK_COLUMNS)).alias("block_entries"),
    )

    def nothing(pdf):
        return pdf[["shard"]].iloc[0:0]

    def decode_all(pdf):
        from wikitfidf_spark.index import codec

        for rec in pdf.to_dict("records"):
            codec.decode_docs_scores(rec)
        return pdf[["shard"]].iloc[0:0]

    jobs = {
        "R0": lambda: spark.range(1).count(),
        "R1": lambda: scan.first().asDict(),
        "R2": lambda: rows.groupBy("shard").applyInPandas(nothing, "shard int").count(),
        "R3": lambda: rows.groupBy("shard").applyInPandas(decode_all, "shard int").count(),
        "R4": lambda: idx.topk_batch(batch).count(),
    }
    out = {}
    for name in RUNGS:
        with tracer.span(f"ladder.{name}"):
            t = time.perf_counter()
            res = jobs[name]()
            out[name] = time.perf_counter() - t
        if name == "R1":
            out["scan_totals"] = res
    return out


def posting_counts(idx, batch) -> dict:
    """Counts for the posting rows a batch reads (not timed)."""
    from pyspark.sql import functions as F

    terms = sorted({t for q in batch for t in q.terms})
    recs = (
        idx.postings.filter(F.col("term").isin(terms))
        .select(
            "shard", "n_docs",
            (F.length("docs_payload") + F.length("scores_payload")).alias("nbytes"),
        )
        .collect()
    )
    per_shard: dict[int, int] = {}
    for r in recs:
        per_shard[r["shard"]] = per_shard.get(r["shard"], 0) + int(r["n_docs"])
    occurrences = sum(len(q.terms) for q in batch)
    return {
        "lists_read": len(recs),
        "payload_bytes_read": sum(int(r["nbytes"]) for r in recs),
        "postings_decoded": sum(per_shard.values()),
        "shards_touched": len(per_shard),
        "shard_skew": (
            max(per_shard.values()) / statistics.median(per_shard.values())
            if per_shard else float("nan")
        ),
        "term_sharing": occurrences / len(terms),
    }


def ladder_metrics(probes: list[dict]) -> tuple[dict, list[str]]:
    """Medians over traced ops of the rung differences (unclamped) and
    the counts.  A negative difference is flagged: the rung no longer
    mirrors the plan."""
    diffs = {
        "session.job_floor_s": lambda p: p["R0"],
        "index.query.scan_s": lambda p: p["R1"] - p["R0"],
        "index.query.exchange_hop_s": lambda p: p["R2"] - p["R1"],
        "index.codec.decode_s": lambda p: p["R3"] - p["R2"],
        "index.query.score_merge_s": lambda p: p["R4"] - p["R3"],
        "index.query.collect_s": lambda p: p["op_wall"] - p["R4"],
    }
    out = {name: median([f(p) for p in probes]) for name, f in diffs.items()}
    flags = [
        f"{name} median {v:.4f}s < 0: rung no longer mirrors the plan"
        for name, v in out.items() if v < 0
    ]
    for key in ("lists_read", "payload_bytes_read", "postings_decoded",
                "shards_touched", "shard_skew", "term_sharing"):
        prefix = "index.codec." if key == "postings_decoded" else "index.query."
        out[prefix + key] = median([p[key] for p in probes])
    out["index.query.postings_per_result"] = median(
        [p["postings_decoded"] / max(1, p["result_rows"]) for p in probes]
    )
    return out, flags


# ---------------------------------------------------------------- build + disk


def build_metrics(index_dir: str, build_result) -> dict:
    from wikitfidf_spark.index.build import load_manifest

    phases = load_manifest(index_dir)["phases"]
    m = build_result.metrics
    out = {f"index.build.{p}_s": float(phases[p]["wall_sec"]) for p in BUILD_PHASES}
    out.update({
        "index.build.postings_per_s": float(m["postings_per_sec"]),
        "index.build.n_postings": int(m["n_postings"]),
        "index.build.payload_bytes": int(m["payload_bytes"]),
        "index.build.skew_ratio": float(m["skew_ratio"]),
    })
    return out


def _tree_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def disk_bytes(index_dir: str) -> dict:
    """Bytes under the index directory, and the part of them that the
    current manifest (and the manifest file itself) references."""
    from wikitfidf_spark.index.build import _manifest_path, index_paths, load_manifest

    rels: set[str] = set()

    def walk(v):
        if isinstance(v, str):
            rels.add(v)
        elif isinstance(v, dict):
            for x in v.values():
                walk(x)
        elif isinstance(v, list):
            for x in v:
                walk(x)

    walk(index_paths(load_manifest(index_dir)))
    referenced = _tree_bytes(_manifest_path(index_dir)) + sum(
        _tree_bytes(os.path.join(index_dir, r))
        for r in rels if os.path.exists(os.path.join(index_dir, r))
    )
    return {"dir_bytes": _tree_bytes(index_dir), "referenced_bytes": referenced}


# ---------------------------------------------------------------- lifecycle


def lifecycle(spark, index_dir, n_docs, seed, read_batch, tally, tracer) -> tuple[dict, object]:
    """Exact-mode 1% add, reads of the new version, compact, reads
    after it.  Returns the layer metrics and the delta DataFrame."""
    from pyspark.sql import functions as F
    from wikitfidf_spark.corpus import make_code_files
    from wikitfidf_spark.index.build import add_documents, compact, index_report, load_manifest

    n_delta = max(1, n_docs // 100)
    # rows are a pure function of (seed, row index): rows past the base
    # share its vocabulary and carry fresh natural keys
    delta = make_code_files(spark, n_docs=n_docs + n_delta, seed=seed).filter(
        F.regexp_extract("path", r"file(\d+)\.", 1).cast("long") >= n_docs
    )
    out = {}
    with tracer.span("lifecycle.add"):
        t = time.perf_counter()
        res = add_documents(spark, delta, index_dir)
        out["index.build.add_wall_s"] = time.perf_counter() - t
    manifest = load_manifest(index_dir)
    add_phase = [v for k, v in manifest["phases"].items() if k.startswith("delta_")][-1]
    out["index.build.add_shards_reencoded"] = int(add_phase["existing_shards_reencoded"])
    out["index.build.add_postings_per_s"] = float(res.metrics["postings_per_sec"])
    rep = index_report(index_dir)
    out["index.build.tf_generations"] = rep["tf_generations"]
    tally.record(
        "verify", rep["live_docs"] == n_docs + n_delta,
        f"after add: live_docs {rep['live_docs']} != {n_docs} + {n_delta}",
    )
    _checked_read(spark, index_dir, read_batch, tally, tracer, "lifecycle.read_after_add")
    with tracer.span("lifecycle.compact"):
        t = time.perf_counter()
        cres = compact(spark, index_dir)
        out["index.build.compact_s"] = time.perf_counter() - t
    out["index.build.compact_postings_per_s"] = float(cres.metrics["postings_per_sec"])
    out["index.build.compact_payload_bytes"] = int(cres.metrics["payload_bytes"])
    _checked_read(spark, index_dir, read_batch, tally, tracer, "lifecycle.read_after_compact")
    disk = disk_bytes(index_dir)
    out["index.build.dir_bytes"] = disk["dir_bytes"]
    out["index.build.referenced_bytes"] = disk["referenced_bytes"]
    out["index.build.unreferenced_bytes"] = disk["dir_bytes"] - disk["referenced_bytes"]
    return out, delta


def _checked_read(spark, index_dir, batch, tally, tracer, name):
    from wikitfidf_spark.index.query import InvertedIndex

    def read():
        idx = InvertedIndex(spark, index_dir)
        with tracer.span(name):
            rows = idx.topk_batch(batch).collect()
        ok, why = topk_structure(rows, batch)
        if not ok:
            return ok, why
        return topk_matches_relational(idx, rows, batch[0])

    tally.run("verify", name, read)


# ---------------------------------------------------------------- families


def families(spark, index_dir, docs, queries, seed, tally, tracer) -> dict:
    """Build positions, then one call of every serving family (a
    two-panel batch) and of each per-call sibling, whose answer must
    equal the batch's answer for the same panel."""
    from wikitfidf_spark.index.positions import build_positions
    from wikitfidf_spark.index.query import InvertedIndex, PhraseQuery

    out = {}
    with tracer.span("positions.build"):
        pos = build_positions(spark, docs, index_dir)
    out["index.positions.build_s"] = float(pos["wall_sec"])
    out["index.positions.bytes_on_disk"] = _tree_bytes(os.path.join(index_dir, pos["path"]))
    idx = InvertedIndex(spark, index_dir)

    rng = random.Random(seed)
    texts = [r["content"] for r in docs.orderBy("path").select("content").limit(2).collect()]
    phrases = []
    for i, text in enumerate(texts):
        toks = idx.analyze_ordered(text)
        j = rng.randrange(len(toks) - 1)
        phrases.append(PhraseQuery(i, toks[j : j + 2], 10))
    panels = [(i, q.terms) for i, q in enumerate(queries[:2])]
    words = [max(q.terms, key=len) for q in queries[:2]]
    typos = [(i, w[:2] + w[3:]) for i, w in enumerate(words)]
    prefixes = [(i, w[:3]) for i, w in enumerate(words)]
    patterns = [(i, w[:4] + "*") for i, w in enumerate(words)]
    src_docs = [r["doc_id"] for r in idx.docmeta.orderBy("doc_id").select("doc_id").limit(2).collect()]

    batch_calls = {
        "phrase_topk_batch": lambda: idx.phrase_topk_batch(phrases),
        "facet_counts_batch": lambda: idx.facet_counts_batch(panels),
        "suggest_batch": lambda: idx.suggest_batch(typos),
        "prefix_terms_batch": lambda: idx.prefix_terms_batch(prefixes),
        "more_like_this_batch": lambda: idx.more_like_this_batch(src_docs),
        "wildcard_topk_batch": lambda: idx.wildcard_topk_batch(patterns),
        "collapse_topk_batch": lambda: idx.collapse_topk_batch(panels),
    }
    singles = {
        "phrase_topk": ("phrase_topk_batch", lambda: idx.phrase_topk(phrases[0].terms, phrases[0].k)),
        "suggest": ("suggest_batch", lambda: idx.suggest(typos[0][1])),
        "prefix_terms": ("prefix_terms_batch", lambda: idx.prefix_terms(prefixes[0][1])),
        "wildcard_topk": ("wildcard_topk_batch", lambda: idx.wildcard_topk(patterns[0][1])),
        "collapse_topk": ("collapse_topk_batch", lambda: idx.collapse_topk(panels[0][1])),
    }
    answers = {}
    for name, call in batch_calls.items():
        def timed(call=call, name=name):
            with tracer.span(f"family.{name}"):
                t = time.perf_counter()
                answers[name] = call().collect()
                out[f"index.query.{name}_s"] = time.perf_counter() - t
            return True, ""

        tally.run("verify", name, timed)
    for name, (batch_name, call) in singles.items():
        def timed(call=call, name=name, batch_name=batch_name):
            with tracer.span(f"family.{name}"):
                t = time.perf_counter()
                rows = call().collect()
                out[f"index.query.{name}_s"] = time.perf_counter() - t
            return batch_equals_single(answers.get(batch_name, []), rows, 0)

        tally.run("verify", f"{name} == {batch_name}", timed)
    return out
