# -*- coding: utf-8 -*-
"""The traced run: per-layer metrics, named by module.

A traced run of either workload measures every layer, so each per-layer
metric is a measured number in both workloads:

* the workload's own call sequence, traced and checked; its Spark work
  gives the ``spark.*`` metrics;
* on ``crf_train_tag``, the KG call sequence over this corpus, traced
  but not checked, so ``plans``, ``streaming`` and ``concurrency`` are
  measured there too; on ``kg_incremental``, a driver-side CRF fit on a
  sample (``train_crf``), to have a model for the CRF operator and
  kernels;
* each public operator alone, as one Spark action over the corpus
  (``operators.*`` and the ``arrow.*`` SQL metrics of its plan);
* the native kernels alone, driver-side on one thread (``kernel.*``);
* ``build_kg`` of the base corpus on ``local[1]`` in a child process,
  for ``spark.scaling_eff_1to4``.

Spans are kept in memory and written to ``perfbench/.out`` at the end.
"""
from __future__ import annotations

import json
import os
import random
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from typing import Callable, Dict

import pyarrow.parquet as pq

import workloads
from tracing import Recorder, covered_ns
from workloads import median

STAGES = ["extracted", "mentions", "group_entities", "groups", "triples",
          "links", "nodes", "edges"]
OPERATORS = ["extract_rows", "group_entities", "triples", "canonicalize",
             "materialize_edges", "prepare_fit_rows", "crf_tagged_mentions"]
ARROW_OPS = ["extract_rows", "crf_tagged_mentions"]
PLANS_CALLS = ("build_kg", "append_kg", "stream", "compact_kg")

# every per-layer metric a traced run prints, with its unit
PER_LAYER: Dict[str, str] = {
    "kernel.extract_us_per_turn": "us",
    "kernel.cluster_ms_per_conv": "ms",
    "kernel.cluster_ms_mega": "ms",
    "kernel.crf_features_us_per_turn": "us",
    "kernel.crf_epoch_s": "s",
    "kernel.crf_predict_us_per_turn": "us",
}
for _op in OPERATORS:
    PER_LAYER["operators.%s.s" % _op] = "s"
    PER_LAYER["operators.%s.rows_out" % _op] = "count"
for _op in ARROW_OPS:
    PER_LAYER["arrow.%s.rows_to_python" % _op] = "count"
    PER_LAYER["arrow.%s.bytes_to_python" % _op] = "bytes"
    PER_LAYER["arrow.%s.bytes_from_python" % _op] = "bytes"
for _st in STAGES:
    PER_LAYER["plans.stage_s." + _st] = "s"
PER_LAYER.update({
    "plans.jobs_per_call": "count",
    "plans.driver_gap_s": "s",
    "plans.files_per_stage": "count",
    "plans.bytes_written": "bytes",
    "streaming.batches": "count",
    "streaming.batch_overhead_s": "s",
    "concurrency.job_overlap": "ratio",
    "spark.task_s": "s",
    "spark.jvm_cpu_s": "s",
    "spark.python_cpu_s": "s",
    "spark.core_util": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.tasks": "count",
    "spark.stages": "count",
    "spark.task_skew": "ratio",
    "spark.scaling_eff_1to4": "ratio",
    "calls.build_s": "s",
    "calls.append_p50_s": "s",
    "calls.stream_batch_p50_s": "s",
    "calls.kg_read_s": "s",
    "calls.compact_s": "s",
    "trace.overhead_s": "s",
    "failed_ops_frac": "ratio",
})


# -- kernels -----------------------------------------------------------------


def _per_item(fn: Callable[[], int], min_s: float = 0.3) -> float:
    """Seconds per item of ``fn`` (which returns its item count),
    repeated until ``min_s`` has passed; the median repeat counts."""
    times = []
    t_end = time.perf_counter() + min_s
    while len(times) < 3 or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        n = fn()
        times.append((time.perf_counter() - t0) / max(1, n))
    return statistics.median(times)


def kernel_metrics(inputs, seed: int, model, shard) -> Dict[str, float]:
    """Driver-side, single-thread timings of the public kernel entry
    points the operators call, over a seeded sample of the corpus."""
    from webstruct_spark.kernel.crf import CRFTagger, token_features
    from webstruct_spark.kernel.grouping import (
        DEFAULT_DONT_PENALIZE, best_clustering, block_positions,
    )
    from webstruct_spark.operators import extract
    from webstruct_spark.operators.tagger import DEFAULT_TYPES, plain_tokens
    from webstruct_spark.operators.trained import labeled_sequences
    from webstruct_spark.sources.goldbuild import extract_turn

    if extract.extract_turn_entities is not extract.extract_turn_entities_c:
        raise RuntimeError("extract_turn_entities is not the native path")
    tbl = pq.read_table(os.path.join(inputs.corpus, "transcripts.parquet"),
                        columns=["conv_id", "turn_idx", "text"])
    by_conv: Dict[str, list] = defaultdict(list)
    for cid, ti, tx in zip(*(tbl.column(c).to_pylist()
                             for c in ("conv_id", "turn_idx", "text"))):
        by_conv[cid].append((ti, tx))
    convs = sorted(by_conv)
    # the generator makes every 37th conversation a 15x mega one
    mega = [c for i, c in enumerate(convs) if i % 37 == 0]
    normal = [c for i, c in enumerate(convs) if i % 37 != 0]
    normal = sorted(random.Random(seed).sample(normal, min(24, len(normal))))
    texts = [tx for c in normal for _ti, tx in sorted(by_conv[c])]

    def cluster_inputs(cs):
        out = []
        for c in cs:
            infos, tags = [], []
            for ti, tx in sorted(by_conv[c]):
                for tok, tag in extract_turn(tx):
                    infos.append((tok, ti))
                    tags.append(tag)
            elems = [t for _tok, t in infos]
            out.append((infos, tags, block_positions(elems, elems)))
        return out

    def clusters(args_list):
        def run():
            for infos, tags, pos in args_list:
                best_clustering(infos, tags, pos,
                                dont_penalize=DEFAULT_DONT_PENALIZE)
            return len(args_list)
        return run

    ext = extract.extract_turn_entities
    toks = [labeled_sequences(tx)[0] for tx in texts]
    plain = [plain_tokens(tx) for tx in texts]

    def features():
        for ts in toks:
            for i in range(len(ts)):
                token_features(ts, i)
        return len(toks)

    def epoch():
        (_pid, _rt, tv, rtc, gid, tfc, fid, vocab) = shard
        CRFTagger(DEFAULT_TYPES).fit_compact(tv, rtc, gid, tfc, fid, vocab,
                                             epochs=1)
        return 1

    def predict():
        model.predict_batch(plain)
        return len(plain)

    def extract_all():
        for tx in texts:
            ext(tx)
        return len(texts)

    return {
        "kernel.extract_us_per_turn": 1e6 * _per_item(extract_all),
        "kernel.cluster_ms_per_conv":
            1e3 * _per_item(clusters(cluster_inputs(normal))),
        "kernel.cluster_ms_mega":
            1e3 * _per_item(clusters(cluster_inputs(mega[:2]))),
        "kernel.crf_features_us_per_turn": 1e6 * _per_item(features),
        "kernel.crf_epoch_s": _per_item(epoch),
        "kernel.crf_predict_us_per_turn": 1e6 * _per_item(predict),
    }


# -- operators -----------------------------------------------------------------


def _plan_nodes(plan):
    """Every node of an executed physical plan, through adaptive plans
    and query stages."""
    stack = [plan]
    while stack:
        p = stack.pop()
        name = p.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(p.finalPhysicalPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(p.plan())
            continue
        yield p
        ch = p.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))


def _metrics(node) -> Dict[str, int]:
    it = node.metrics().iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


def _rows_into(node) -> int:
    """Rows a node consumed: the output rows, or shuffle records, of the
    nearest descendant that counts them."""
    ch = node.children()
    for i in range(ch.size()):
        for d in _plan_nodes(ch.apply(i)):
            m = _metrics(d)
            for k in ("numOutputRows", "shuffleRecordsWritten"):
                if k in m:
                    return m[k]
    return 0


def _arrow_metrics(df) -> Dict[str, int]:
    """Rows and bytes across the JVM/Python boundary, from the SQL
    metrics of the DataFrame's own executed plan."""
    out = {"rows_to_python": 0, "bytes_to_python": 0, "bytes_from_python": 0}
    for node in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        m = _metrics(node)
        if "pythonDataSent" not in m:
            continue
        out["rows_to_python"] += _rows_into(node)
        out["bytes_to_python"] += m["pythonDataSent"]
        out["bytes_from_python"] += m.get("pythonDataReceived", 0)
    return out


def operator_metrics(spark, rec, inputs, kg_dir: str, model):
    """Each public operator alone as one Spark action over the corpus.
    Returns (metrics, the prepared CRF shard records)."""
    from webstruct_spark.operators.canon import canonicalize
    from webstruct_spark.operators.extract import extract_rows
    from webstruct_spark.operators.graph import materialize_edges
    from webstruct_spark.operators.grouping_op import group_entities
    from webstruct_spark.operators.trained import (
        crf_tagged_mentions, prepare_fit_rows,
    )
    from webstruct_spark.operators.triples_op import triples

    def read(name):
        return spark.read.parquet(os.path.join(kg_dir, name))

    turns = spark.read.parquet(os.path.join(inputs.corpus,
                                            "transcripts.parquet"))
    frames = {
        "extract_rows": lambda: extract_rows(turns),
        "group_entities": lambda: group_entities(read("extracted")),
        "triples": lambda: triples(read("group_entities")),
        "canonicalize": lambda: canonicalize(
            read("mentions"), spark.read.parquet(inputs.gazetteer))[1],
        "materialize_edges": lambda: materialize_edges(read("triples"),
                                                       read("links")),
        "crf_tagged_mentions": lambda: crf_tagged_mentions(turns, model),
    }
    out: Dict[str, float] = {}
    shards: list = []
    for op in OPERATORS:
        if op == "prepare_fit_rows":
            res, c = rec.call("op:" + op, lambda: prepare_fit_rows(
                turns, n_parts=8).collect())
            shards = res or []
            n = len(shards)
        else:
            df = frames[op]()
            n, c = rec.call(
                "op:" + op,
                lambda: df._jdf.queryExecution().executedPlan()
                .execute().count(),
            )
            if op in ARROW_OPS and c.ok:
                for k, v in _arrow_metrics(df).items():
                    out["arrow.%s.%s" % (op, k)] = v
        out["operators.%s.s" % op] = c.wall_s
        out["operators.%s.rows_out" % op] = n or 0
    return out, shards


# -- plans, streaming, spark ------------------------------------------------


def plans_metrics(calls) -> Dict[str, float]:
    """From the manifest commits and Spark jobs of the plans calls."""
    pc = [c for c in calls if c.kind in PLANS_CALLS]
    stage_s = {s: 0.0 for s in STAGES}
    files: Dict[str, int] = {}
    bytes_written = 0
    for c in pc:
        for r in c.attrs.get("commits", []):
            if r["stage"] in stage_s:
                stage_s[r["stage"]] += r["wall_sec"]
            bytes_written += r["bytes_added"]
            if c.kind != "compact_kg" and r["stage"] in stage_s:
                files[r["stage"]] = r["n_files"]
    gap = 0.0
    for c in pc:
        spans = [(j["start_ms"] * 1000000, j["end_ms"] * 1000000)
                 for j in c.jobs if j["start_ms"] and j["end_ms"]]
        gap += c.wall_s - covered_ns(spans, c.start_ns, c.end_ns) / 1e9
    out = {"plans.stage_s." + s: v for s, v in stage_s.items()}
    out.update({
        "plans.jobs_per_call":
            sum(len(c.jobs) for c in pc) / max(1, len(pc)),
        "plans.driver_gap_s": gap,
        "plans.files_per_stage":
            statistics.mean(files.values()) if files else 0.0,
        "plans.bytes_written": bytes_written,
    })
    build = [c for c in pc if c.kind == "build_kg"]
    if build:
        c = build[0]
        busy = sum(j["end_ms"] - j["start_ms"] for j in c.jobs
                   if j["start_ms"] and j["end_ms"]) / 1000.0
        out["concurrency.job_overlap"] = busy / c.wall_s
    return out


def spark_metrics(rec: Recorder, calls, cores: int) -> Dict[str, float]:
    """Engine work of the workload's own calls, from the status store
    and /proc."""
    stages = [s for c in calls for s in c.stages]
    wall = sum(c.wall_s for c in calls)
    task_s = sum(s["run_ms"] for s in stages) / 1000.0
    skew = float("nan")
    if stages:
        widest = max(stages, key=lambda s: (s["num_tasks"], s["run_ms"]))
        d = rec.task_durations_ms(widest)
        if d and statistics.median(d) > 0:
            skew = max(d) / statistics.median(d)
    return {
        "spark.task_s": task_s,
        "spark.jvm_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "spark.python_cpu_s": sum(c.python_cpu_s for c in calls),
        "spark.core_util": task_s / (wall * cores) if wall else 0.0,
        "spark.shuffle_write_bytes":
            sum(s["shuffle_write_bytes"] for s in stages),
        "spark.shuffle_read_bytes":
            sum(s["shuffle_read_bytes"] for s in stages),
        "spark.spill_bytes": sum(s["spill_bytes"] for s in stages),
        "spark.tasks": sum(s["num_tasks"] for s in stages),
        "spark.stages": len(stages),
        "spark.task_skew": skew,
    }


def _scaling_probe(args) -> float:
    """Wall of ``build_kg`` of this run's base corpus on local[1], in its
    own process after its own warm call."""
    cmd = [sys.executable, os.path.join(os.path.dirname(
        os.path.abspath(__file__)), "run.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", "0", "--scaling-probe"]
    p = subprocess.run(cmd, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, timeout=120, check=True)
    res = json.loads(p.stdout.decode().strip().splitlines()[-1])
    if not res["ok"]:
        raise RuntimeError("local[1] probe call failed")
    return res["build_s"]


def traced_run(spark, args, inputs, work: str, cores: int, run_id: str,
               iteration, out_dir: str):
    """Returns (per-layer metrics, recorder, detail)."""
    kg = args.workload == "kg_incremental"
    rec = Recorder(spark, True, run_id)
    own = iteration(spark, rec, inputs, os.path.join(work, "own"))
    own_calls = list(rec.calls)
    if kg:
        kg_walls = own
        # a model for the tagging operator and the predict kernel: the
        # driver-side fit on a bounded sample is enough to time them
        from webstruct_spark.operators.trained import train_crf

        turns = spark.read.parquet(os.path.join(inputs.corpus,
                                                "transcripts.parquet"))
        model, _ = rec.call("crf_fit_sample", train_crf, turns)
    else:
        kg_walls = workloads.kg_iteration(
            spark, rec, inputs, os.path.join(work, "sweep"), check=False)
        model = own.get("model")

    nan = float("nan")
    m: Dict[str, float] = {}
    if rec.failed == 0:
        # operators and kernels need the KG and the model built above
        ops, shards = operator_metrics(spark, rec, inputs,
                                       kg_walls["out_dir"], model)
        m.update(ops)
        if shards:
            m.update(kernel_metrics(
                inputs, args.seed, model,
                max(shards, key=lambda r: len(r[1])),
            ))
    m.update(plans_metrics(rec.calls))
    m.update(spark_metrics(rec, own_calls, cores))

    appends = kg_walls.get("append", [])
    batches = kg_walls.get("stream_batch", [])
    m.update({
        "streaming.batches": len(batches),
        "streaming.batch_overhead_s": median(batches) - median(appends),
        "calls.build_s": own.get("build" if kg else "fit", nan),
        "calls.append_p50_s": median(appends),
        "calls.stream_batch_p50_s": median(batches),
        "calls.kg_read_s": kg_walls.get("read", nan),
        "calls.compact_s": kg_walls.get("compact", nan),
    })
    m["trace.overhead_s"] = rec.trace_s

    t1, c = rec.call("scaling_probe_local1", _scaling_probe, args)
    m["spark.scaling_eff_1to4"] = (
        t1 / (cores * kg_walls.get("build", nan)) if c.ok else nan)
    m["failed_ops_frac"] = rec.failed / max(1, rec.attempted)

    spans_path = os.path.join(out_dir, "spans-%s-seed%d-%s.jsonl" % (
        args.workload, args.seed, run_id))
    rec.write_spans(spans_path)
    metrics = {}
    for name, unit in PER_LAYER.items():
        v = m.get(name, float("nan"))
        metrics[name] = {"value": None if v != v else v, "unit": unit}
    detail = {"spans": os.path.relpath(spans_path),
              "traced_calls": [(c.kind, round(c.wall_s, 3), c.ok,
                                len(c.jobs)) for c in rec.calls]}
    return metrics, rec, detail
