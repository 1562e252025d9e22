"""Benchmark for the BM25 engine in ``wikitfidf_spark``.

    python3 perfbench/run.py --workload serve_interactive --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One run starts Spark at ``local[2]``
(never more task threads than CPUs), generates a synthetic code corpus
from ``--seed``, builds the index once and opens it several times
(set-up), checks a sample of answers and discards a few warm-up ops,
then runs a closed loop with one client and no think time for
``--seconds``: ``InvertedIndex.topk_batch`` on consecutive slices of a
query stream drawn from the same seed.  Every answer is checked.  The
last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  Logs, the environment record
and the per-layer table go to stderr; the full record of a run (and its
spans, when traced) is written under ``perfbench/.work/results/``.

Workloads (see README.md for why each exists):
  serve_interactive   5-query batches: per-job fixed cost, exchange, Arrow hop
  serve_bulk          100-query batches: per-query cost; at 1,000 docs the
                      fixed per-job cost is still the larger part
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback

import proc

# perf_counter() reading at process start, so that marks count from it
T_START = time.perf_counter() - proc.since_process_start()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {"serve_interactive": 5, "serve_bulk": 100}  # queries per batch
N_DOCS = 1000
SETUP_REPS = 3          # serving set-ups per run; setup_s takes their median
# discarded ops right before the window: the first ops after set-up
# run ~20% slower while the JVM is still compiling the serving path
WARMUP_SECONDS = 4.0
# Spark task threads, shuffle partitions and index shards.  Each task
# thread drives a Python worker, so local[4] keeps 8+ busy processes on
# a 4-CPU host: one core taken by another process doubled the 5-query
# op latency there, and added 18% at local[2], which is as fast on
# 5-query ops when the host is idle and faster on 100-query ops
TASK_THREADS = 2
QUERY_STREAM = 6000     # queries drawn per run; batches cycle through them
EXACT_SAMPLE = 2        # queries per run checked against topk_relational
# share of queries with >= 1 hit below which a run is failed: a query
# stream drawn from another vocabulary than the corpus answers ~nothing
# (measured share with coupled seeds: 0.84-0.96)
HIT_FLOOR = 0.8

END_TO_END = {
    "setup_s": "s",
    "build_s": "s",
    "latency_p50_s": "s",
    "qps": "queries/s",
    "peak_rss_mb": "MB",
    "index_bytes_per_content_byte": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.job_floor_s": "s",
    "index.query.scan_s": "s",
    "index.query.exchange_hop_s": "s",
    "index.codec.decode_s": "s",
    "index.query.score_merge_s": "s",
    "index.query.collect_s": "s",
    "index.query.lists_read": "count",
    "index.query.payload_bytes_read": "bytes",
    "index.codec.postings_decoded": "count",
    "index.query.postings_per_result": "ratio",
    "index.query.shards_touched": "count",
    "index.query.shard_skew": "ratio",
    "index.query.term_sharing": "ratio",
    "index.build.tf_s": "s",
    "index.build.dictionary_s": "s",
    "index.build.doclens_s": "s",
    "index.build.structure_s": "s",
    "index.build.docmeta_s": "s",
    "index.build.postings_per_s": "1/s",
    "index.build.n_postings": "count",
    "index.build.payload_bytes": "bytes",
    "index.build.skew_ratio": "ratio",
    "index.build.add_wall_s": "s",
    "index.build.add_shards_reencoded": "count",
    "index.build.add_postings_per_s": "1/s",
    "index.build.tf_generations": "count",
    "index.build.compact_s": "s",
    "index.build.compact_postings_per_s": "1/s",
    "index.build.compact_payload_bytes": "bytes",
    "index.build.dir_bytes": "bytes",
    "index.build.referenced_bytes": "bytes",
    "index.build.unreferenced_bytes": "bytes",
    "index.positions.build_s": "s",
    "index.positions.bytes_on_disk": "bytes",
    **{
        f"index.query.{f}_s": "s"
        for f in (
            "phrase_topk_batch", "facet_counts_batch", "suggest_batch",
            "prefix_terms_batch", "more_like_this_batch", "wildcard_topk_batch",
            "collapse_topk_batch", "phrase_topk", "suggest", "prefix_terms",
            "wildcard_topk", "collapse_topk",
        )
    },
    "trace.overhead_s": "s",
}
# predicted largest layer group of an op, per workload
PREDICTED = {"serve_interactive": "fixed", "serve_bulk": "kernel"}
GROUPS = {
    "fixed": ("session.job_floor_s", "index.query.exchange_hop_s"),
    "kernel": ("index.codec.decode_s", "index.query.score_merge_s"),
    "io": ("index.query.scan_s", "index.query.collect_s"),
}


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare(name: str) -> str:
    """A fresh work directory for one run; scratch files, Spark's
    included, stay inside it, and Python workers can import the engine
    from the checkout."""
    work = os.path.join(HERE, ".work", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Spark prefers this variable over spark.local.dir when it is set
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    return work


def tail(lat: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples beyond it: the
    eleventh-largest sample.  Returns (value, percentile, n)."""
    s = sorted(lat)
    i = max(0, len(s) - 11)
    return s[i], 100.0 * (i + 1) / len(s), len(s)


def query_stream(seed: int):
    """Queries over the corpus's own vocabulary: ``make_code_files``
    draws its vocabulary with seed + 1, so the query mix does too."""
    from wikitfidf_spark.corpus import bench_query_mix

    return bench_query_mix(QUERY_STREAM, seed=seed, vocab_seed=seed + 1)


def batches(stream, size: int):
    from wikitfidf_spark.index.query import Query

    pos = 0
    while True:
        qs = [stream[(pos + j) % len(stream)] for j in range(size)]
        pos += size
        yield [Query(j, q.terms, q.mode, q.k) for j, q in enumerate(qs)]


def main(argv=None) -> int:
    args = parse_args(argv)
    batch_size = WORKLOADS[args.workload]
    cpus = min(TASK_THREADS, len(os.sched_getaffinity(0)))
    work = prepare(f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")

    # the engine: an import failure here (no package beside the
    # benchmark) ends the run with an error and no result line
    from pyspark.sql import functions as F
    from wikitfidf_spark.corpus import make_code_files
    from wikitfidf_spark.index.build import IndexConfig, build_index, index_report
    from wikitfidf_spark.index.query import InvertedIndex

    import checks
    import layers
    from spans import NullTracer, Tracer

    tracer = Tracer() if args.trace else NullTracer()
    tally = checks.Tally()
    sampler = proc.RssSampler().start()
    conf = proc.spark_conf(work, cpus)
    env = proc.environment(ROOT, conf, cpus)
    env.update(seed=args.seed, workload=args.workload, n_docs=N_DOCS,
               batch_size=batch_size, setup_reps=SETUP_REPS, seconds=args.seconds)
    log("environment:", json.dumps(env))

    spark = None
    try:
        # ------------------------------------------------------------ set-up
        with tracer.span("setup.session"):
            spark = proc.start_spark(conf)
            spark.range(1).count()
        session_s = time.perf_counter() - T_START
        marks = {"session": session_s}
        stream = query_stream(args.seed)
        ops = batches(stream, batch_size)
        # the corpus is the workload's input: generated once, outside set-up
        with tracer.span("input.corpus"):
            corpus = make_code_files(spark, n_docs=N_DOCS, seed=args.seed,
                                     n_partitions=cpus).cache()
            corpus.count()
        marks["input_end"] = time.perf_counter() - T_START
        index_dir = os.path.join(work, "index")
        with tracer.span("setup.build"):
            t = time.perf_counter()
            built = build_index(spark, corpus, index_dir, IndexConfig(n_shards=cpus),
                                resume=False)
            build_s = time.perf_counter() - t
        live = index_report(index_dir)["live_docs"]
        tally.record("setup", live == N_DOCS, f"live_docs {live} != {N_DOCS}")
        # serving set-up (open the index, answer a warm-up batch) is
        # repeated; warm-up batches are never measured
        opens, warm = [], []
        for rep in range(SETUP_REPS):
            warm_batch = next(ops)
            with tracer.span("setup.open", op=-1 - rep):
                t = time.perf_counter()
                idx = InvertedIndex(spark, index_dir)
                warm_rows = idx.topk_batch(warm_batch).collect()
                opens.append(time.perf_counter() - t)
            tally.record("setup", *checks.topk_structure(warm_rows, warm_batch))
            warm.append((warm_batch, warm_rows))
        marks["setup_end"] = time.perf_counter() - T_START

        # ---------------------------------------------------------- verify
        # before the window, so its JVM work warms the window rather
        # than following it: a seeded sample of the set-up answers must
        # equal the relational scoring path
        rng = random.Random(args.seed)
        for batch, rows in warm[-2:]:
            for q in rng.sample(batch, min(len(batch), EXACT_SAMPLE // 2)):
                tally.run("verify", f"exact query {q.query_id}",
                          lambda q=q, rows=rows: checks.topk_matches_relational(idx, rows, q))
        content_bytes = corpus.select(F.sum(F.octet_length("content"))).first()[0]
        referenced = layers.disk_bytes(index_dir)["referenced_bytes"]
        marks["verify_end"] = time.perf_counter() - T_START
        warm_until = time.perf_counter() + WARMUP_SECONDS
        while time.perf_counter() < warm_until:
            batch = next(ops)
            tally.run("setup", "warm-up op", lambda b=batch: checks.topk_structure(
                idx.topk_batch(b).collect(), b))
        marks["warmup_end"] = time.perf_counter() - T_START

        # ------------------------------------------------------ measured window
        # the /proc scan runs between ops from here on, outside their wall
        sampler.stop()
        lat, traced_walls, probes = [], [], []
        n_queries = n_hit = n_lat_queries = 0
        deadline = time.perf_counter() + args.seconds
        op = 0
        while time.perf_counter() < deadline:
            batch = next(ops)
            traced = bool(args.trace) and op % 2 == 1
            try:
                with tracer.span("serve.op", op=op):
                    with tracer.span("serve.call"):
                        t = time.perf_counter()
                        rows = idx.topk_batch(batch).collect()
                        dt = time.perf_counter() - t
                    if traced:
                        probe = layers.ladder(spark, idx, batch, tracer)
            except Exception:  # counted and logged; the loop goes on
                tally.record("measured", False, f"op {op} raised\n{traceback.format_exc()}")
                op += 1
                continue
            finally:
                sampler.sample()
            ok, why = checks.topk_structure(rows, batch)
            tally.record("measured", ok, f"op {op}: {why}")
            if traced:
                counts = layers.posting_counts(idx, batch)
                totals = probe.pop("scan_totals")
                tally.record(
                    "verify",
                    all((totals[k] or 0) == counts[k]
                        for k in ("lists_read", "postings_decoded", "payload_bytes_read")),
                    f"op {op}: ladder R1 totals {totals} != posting counts {counts}",
                )
                probe.update(counts, op_wall=dt, result_rows=len(rows))
                probes.append(probe)
                traced_walls.append(dt)
            else:
                lat.append(dt)
                n_lat_queries += len(batch)
            n_queries += len(batch)
            n_hit += len({r["query_id"] for r in rows})
            op += 1

        marks["window_end"] = time.perf_counter() - T_START
        hit_share = n_hit / max(1, n_queries)
        tally.record("verify", hit_share >= HIT_FLOOR,
                     f"hit share {hit_share:.3f} < floor {HIT_FLOOR}")
        tally.record("measured", bool(lat), "no untraced op finished in the window")

        tail_v, tail_pct, n_lat = tail(lat) if lat else (math.nan, math.nan, 0)
        e2e = {
            "setup_s": session_s + statistics.median(opens),
            "build_s": build_s,
            "latency_p50_s": layers.median(lat),
            "qps": n_lat_queries / sum(lat) if lat else math.nan,
            "peak_rss_mb": sampler.peak / 2**20,
            "index_bytes_per_content_byte": referenced / content_bytes,
        }
        record = {
            "env": env,
            "end_to_end": e2e,
            "samples": {"open_s": opens, "session_s": session_s,
                        "latency_s": lat, "latency_tail_s": tail_v,
                        "tail_percentile": tail_pct, "n_ops": n_lat,
                        "hit_share": hit_share, "hit_floor": HIT_FLOOR,
                        "rss_sum_peak_mb": sampler.rss_peak / 2**20,
                        "max_processes": sampler.max_processes},
        }

        # ------------------------------------------------------- per-layer
        per_layer = {}
        if args.trace:
            tally.record("measured", bool(probes), "no traced op finished in the window")
            per_layer, flags = layers.ladder_metrics(probes)
            per_layer["session.start_s"] = session_s
            per_layer["trace.overhead_s"] = layers.median(traced_walls) - e2e["latency_p50_s"]
            per_layer.update(layers.build_metrics(index_dir, built))
            try:
                lc, delta = layers.lifecycle(spark, index_dir, N_DOCS, args.seed,
                                             warm_batch, tally, tracer)
                per_layer.update(lc)
                per_layer.update(layers.families(spark, index_dir, corpus.unionByName(delta),
                                                 stream, args.seed, tally, tracer))
            except Exception:  # a failed sweep fails the run; its metrics stay missing
                tally.record("verify", False, f"layer sweep raised\n{traceback.format_exc()}")
            record.update(per_layer=per_layer, flags=flags,
                          split=split_report(args.workload, per_layer, layers.median(traced_walls)),
                          spans=tracer.dump())
            log_layers(args.workload, per_layer, record["split"], flags)
        marks["layers_end"] = time.perf_counter() - T_START
        record["marks"] = marks
    finally:
        sampler.stop()
        if spark is not None:
            proc.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    marks["stopped"] = time.perf_counter() - T_START
    attempted, failed = tally.totals()
    record.update(checks=tally.as_dict(), errors=tally.errors,
                  env=proc.close_environment(env))
    if env["overloaded"]:
        log(f"WARNING: load average exceeded nproc ({env['nproc']}) during this run")
    results = os.path.join(HERE, ".work", "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, os.path.basename(work) + ".json"), "w") as f:
        json.dump(record, f, indent=1)

    values, units = (per_layer, PER_LAYER) if args.trace else (e2e, END_TO_END)
    log("end-to-end:", json.dumps(e2e))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": _num(values.get(k)), "unit": u} for k, u in units.items()},
    }))
    return 0


def _num(v):
    return None if v is None or (isinstance(v, float) and math.isnan(v)) else v


def split_report(workload: str, m: dict, op_wall: float) -> dict:
    shares = {g: sum(m[k] for k in ks) / op_wall for g, ks in GROUPS.items()}
    largest = max(shares, key=shares.get)
    return {"shares_of_op": shares, "largest": largest,
            "predicted": PREDICTED[workload], "held": largest == PREDICTED[workload]}


def log_layers(workload: str, m: dict, split: dict, flags: list[str]) -> None:
    log(f"per-layer ({workload}):")
    for k in PER_LAYER:
        v = m.get(k)
        log(f"  {k:40s} {v if v is None else f'{v:.6g}':>14} {PER_LAYER[k]}")
    log("  predicted largest group %s, measured %s -> %s; shares %s" % (
        split["predicted"], split["largest"], "held" if split["held"] else "did not hold",
        {g: round(s, 3) for g, s in split["shares_of_op"].items()}))
    for f in flags:
        log("  FLAG:", f)


if __name__ == "__main__":
    sys.exit(main())
