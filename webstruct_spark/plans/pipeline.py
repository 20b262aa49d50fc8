# -*- coding: utf-8 -*-
"""The full KG-construction pipeline: transcripts → extracted turns →
mentions → group entities → groups/triples → links/nodes, each stage a
committed parquet table with manifest lineage.

Stage DAG (all reads are from the previous stage's committed table, so
a resumed run never recomputes upstream work):

  extracted   narrow scan+UDF over transcripts (tokenize+encode+decode)
  mentions    explode of extracted entities (narrow)
  group_entities  ONE shuffle by conv_id (entities + token counts only)
  groups      hash aggregate over group_entities
  triples     window ops over group_entities
  links,nodes broadcast gazetteer join + connected components

At 100 TB: `extracted` is the dominant stage and is embarrassingly
parallel; its output is ~5-10% of input bytes (entities only).  The
single wide dependency is group_entities' shuffle keyed by conv_id,
whose payload is the already-slim entity structs.  Everything after
operates on mention/entity tables that are orders of magnitude smaller
than the corpus.
"""
from __future__ import annotations

import time
from typing import Dict, List, Optional

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from ..concurrency import run_concurrent_jobs
from ..operators.canon import canonicalize
from ..operators.extract import extract_rows, mentions_from_rows
from ..operators.grouping_op import DEFAULT_DONT_PENALIZE, group_entities
from ..operators.triples_op import groups_summary, triples as triples_op
from . import fsio
from .manifest import Manifest, table_fingerprint

# bump when any stage table's schema/layout changes: resuming into an
# older layout rebuilds instead of serving stale outputs
LAYOUT_VERSION = "3-graph-edges"

STAGES = [
    "extracted",
    "mentions",
    "group_entities",
    "groups",
    "triples",
    "links",
    "nodes",
    "edges",
]

STAGE_INPUTS = {
    "extracted": ["transcripts"],
    "mentions": ["extracted"],
    "group_entities": ["extracted"],
    "groups": ["group_entities"],
    "triples": ["group_entities"],
    "links": ["mentions", "gazetteer"],
    "nodes": ["mentions", "gazetteer"],
    "edges": ["triples", "links"],
}

# which parts of the run identity each stage's output actually depends
# on (the transitive closure of STAGE_INPUTS down to the source tables
# plus the grouping params): a resume after ONLY the gazetteer changed
# keeps the corpus-scale extracted/mentions stages and rebuilds just
# the canonicalization family — re-linking against a refreshed
# gazetteer must not re-extract 100 TB of history
STAGE_IDENTITY_KEYS = {
    "extracted": ("transcripts",),
    "mentions": ("transcripts",),
    "group_entities": ("transcripts", "params"),
    "groups": ("transcripts", "params"),
    "triples": ("transcripts", "params"),
    "links": ("transcripts", "gazetteer"),
    "nodes": ("transcripts", "gazetteer"),
    "edges": ("transcripts", "params", "gazetteer"),
}

# side table of every ingested conv_id (tiny: one row per
# conversation) — lets the append-path disjointness guards run
# O(delta) instead of re-scanning the full extracted table per append
CONV_IDS = "_conv_ids"


def _stage_identity(stage: str, full_fp: dict) -> dict:
    out = {k: full_fp[k] for k in STAGE_IDENTITY_KEYS[stage]}
    for k in ("stream_batch_id", "stream_id"):
        if k in full_fp:
            out[k] = full_fp[k]
    return out


# the stages recomputed globally (overwritten, never appended) by
# every build/append/refresh — a crash DURING one of their overwrite
# writes (mode("overwrite") removes the old dir, so _SUCCESS is gone)
# leaves them missing, and the recovery re-run recomputes them anyway
GLOBAL_STAGES = ("links", "nodes", "edges")


def _stage_tears(fp_of: Dict[str, dict]) -> Dict[str, List[str]]:
    """Per-stage list of identity components that disagree with the
    anchors — extracted for the parts every stage shares (transcripts
    + stream stamps), group_entities for the grouping params, the
    first present of links/nodes/edges for the gazetteer (per
    STAGE_IDENTITY_KEYS).  The ONE tear predicate, shared by
    append_kg's refuse/resume guard, refresh_gazetteer's preamble,
    and kg_status's diagnosis, so the inspection tool can never
    contradict the guards it explains.  A crashed earlier append can
    leave extracted at A+B while groups is still at A; a crashed
    gazetteer-refresh can leave links at the new gazetteer while
    nodes holds the old one — both are tears (differing components:
    ``shared`` vs ``gazetteer``).  Only stages present in ``fp_of``
    are judged — a missing GLOBAL stage (crash mid-overwrite-write)
    is recomputed by the recovery run, not compared."""
    base_transcripts = fp_of["extracted"].get("transcripts")
    last_batch = fp_of["extracted"].get("stream_batch_id")
    last_stream = fp_of["extracted"].get("stream_id")
    base_params = fp_of["group_entities"].get("params")
    gaz_anchor = next(
        (s for s in GLOBAL_STAGES if s in fp_of), None
    )
    base_gazetteer = (
        fp_of[gaz_anchor].get("gazetteer") if gaz_anchor else None
    )
    out: Dict[str, List[str]] = {}
    for s in STAGES:
        if s not in fp_of:
            continue
        torn: List[str] = []
        if (fp_of[s].get("transcripts") != base_transcripts
                or fp_of[s].get("stream_batch_id") != last_batch
                or fp_of[s].get("stream_id") != last_stream):
            torn.append("shared")
        if ("params" in STAGE_IDENTITY_KEYS[s]
                and fp_of[s].get("params") != base_params):
            torn.append("params")
        if (gaz_anchor is not None
                and "gazetteer" in STAGE_IDENTITY_KEYS[s]
                and fp_of[s].get("gazetteer") != base_gazetteer):
            torn.append("gazetteer")
        if torn:
            out[s] = torn
    return out


def _torn_stages(fp_of: Dict[str, dict]) -> List[str]:
    """Stages torn in ANY identity component (see :func:`_stage_tears`)."""
    return [s for s in STAGES if s in _stage_tears(fp_of)]


def _conv_ids_ready(spark, conv_path: str) -> bool:
    # a dir without Spark's _SUCCESS marker is a crashed partial write
    return fsio.exists(spark, fsio.join(conv_path, "_SUCCESS"))


def _rebuild_conv_ids(spark, extracted_path: str, conv_path: str) -> None:
    """(Re)derive the _conv_ids side table from the extracted table.
    MUST run before the extracted stage's manifest commit so the
    invariant 'extracted committed ⇒ side table covers ≥ its convs'
    survives a crash at any point (a missing/partial side table next
    to an uncommitted extracted stage is rebuilt along with it)."""
    spark.read.parquet(extracted_path).select(
        "conv_id"
    ).distinct().write.mode("overwrite").parquet(conv_path)


def kg_status(spark: SparkSession, out_dir: str) -> dict:
    """Read-only inspection of a KG build dir (``jobs/kg_build.py
    --status``): per-stage committed lineage + counters, pending
    write-ahead intents, identity-tear diagnosis, and cheap
    disk-vs-manifest drift (file count + bytes from one listing per
    stage — no data or footer reads).  NEVER mutates: intents are
    listed, not reconciled, and the manifest handle is opened
    read-only (``create=False`` — inspecting a typo'd or never-built
    out_dir must not leave directories behind), so an operator can
    inspect a crashed out_dir without changing what the next run will
    repair."""
    import json as _json

    man = Manifest(out_dir, layout_version=LAYOUT_VERSION, spark=spark,
                   create=False)
    committed = man.committed()
    stages: Dict[str, dict] = {}
    classes: Dict[tuple, list] = {}
    for s in STAGES:
        rec = committed.get(s)
        # ONE disk listing per stage, fetched up front: it feeds the
        # file/byte drift stats below AND the _SUCCESS presence the
        # committed predicate needs — no second round trip (each
        # fsio call is a py4j hop on the Hadoop/object-store route).
        # listdir_if_exists (vanish-tolerant): kg_status races live
        # jobs BY DESIGN, and a concurrent compaction / overwrite may
        # remove the dir mid-inspection — same hardening as
        # Manifest.intents()
        listing = fsio.listdir_if_exists(spark, man.stage_path(s))
        has_success = listing is not None and any(
            n == "_SUCCESS" for n, _ in listing
        )
        # "committed" through the SAME predicate the build/append
        # guards use (is_committed: record + layout match + _SUCCESS
        # on disk) — a raw record whose layout is stale or whose
        # _SUCCESS vanished must not be reported healthy while the
        # next --append refuses it as a missing stage
        ok = bool(rec) and man.is_committed(
            s, rec=rec, has_success=has_success
        )
        info: Dict[str, object] = {"committed": ok}
        if rec:
            fp = rec.get("source_fp") or {}
            # identity classes span only VERIFIABLE records (committed
            # + fingerprinted) — an fp-less legacy record must not
            # masquerade as a second identity class (its real failure
            # mode at append time is the fingerprint refusal, not the
            # tear/resume path; the guards must never be contradicted)
            if ok and rec.get("source_fp"):
                ident = (
                    _json.dumps(fp.get("transcripts"), sort_keys=True),
                    fp.get("stream_batch_id"),
                    fp.get("stream_id"),
                )
                classes.setdefault(ident, []).append(s)
            info.update(
                layout=rec.get("layout"),
                rows_out=rec.get("rows_out"),
                n_files=rec.get("n_files"),
                bytes=rec.get("bytes"),
                stream_batch_id=fp.get("stream_batch_id"),
                stream_id=fp.get("stream_id"),
                committed_utc_ns=rec.get("committed_utc_ns"),
                # append also needs this (its preamble refuses a base
                # without recorded fingerprints)
                source_fp_recorded=bool(rec.get("source_fp")),
            )
            if not ok:
                info["record_invalid"] = (
                    "layout %r != %r" % (rec.get("layout", "1"),
                                         LAYOUT_VERSION)
                    if rec.get("layout", "1") != LAYOUT_VERSION
                    else "_SUCCESS missing"
                )
        # disk stats for EVERY stage, committed or not — the
        # crashed-first-build case (part files, maybe no _SUCCESS, no
        # record yet) is exactly what the inspection exists to show
        if listing is not None:
            pq = [(n, b) for n, b in listing if n.endswith(".parquet")]
            info["disk_n_files"] = len(pq)
            info["disk_bytes"] = sum(b for _, b in pq)
        else:
            info["disk_n_files"] = 0
            info["disk_bytes"] = 0
        info["success_marker"] = has_success
        # drift is EXPECTED exactly when an intent is pending for
        # the stage (a crashed landed-but-uncommitted write) —
        # anywhere else it means out-of-band modification
        info["disk_matches_manifest"] = bool(rec) and (
            info["disk_n_files"] == rec.get("n_files")
            and info["disk_bytes"] == rec.get("bytes")
        )
        stages[s] = info
    intents = [
        {
            "stage": it["stage"],
            "intent_file": it["intent_file"],
            # the kind decides what the next run's reconciliation
            # does: append → revert stray part files only;
            # overwrite → drop the whole stage dir (unless the
            # pre-write state is provably intact) and recompute.
            # An operator estimating the recovery cost needs this.
            "kind": it.get("kind", "append"),
            "utc_ns": it.get("utc_ns"),
            "n_pre_files": len(it.get("pre_files") or []),
        }
        for it in man.intents()
    ]
    # tear diagnosis with the SAME predicate append_kg's guard uses
    # (_stage_tears: shared identity anchored on extracted, params on
    # group_entities, gazetteer on the first present global stage) —
    # a params- or gazetteer-only tear must not be reported healthy
    # while the next --append refuses it.  Runs over the
    # committed+fingerprinted SUBSET (exactly what the guards judge):
    # a stage mid-crash-missing must not blank the whole diagnosis,
    # and fp-less legacy records must not misreport as torn (their
    # real failure mode is append's fingerprint refusal).  The two
    # anchor stages must be present for the predicate to anchor.
    torn_stages: List[str] = []
    fp_sub = {
        s: committed[s]["source_fp"] for s in STAGES
        if stages[s].get("committed")
        and stages[s].get("source_fp_recorded")
    }
    if "extracted" in fp_sub and "group_entities" in fp_sub:
        torn_stages = _torn_stages(fp_sub)
    # the _conv_ids side table drives the O(delta) append guards; a
    # missing/_SUCCESS-less one is NOT an error (the next append
    # rebuilds it from extracted) but an operator should see it
    conv_path = fsio.join(out_dir, CONV_IDS)
    conv_listing = fsio.listdir_if_exists(spark, conv_path)
    side: Dict[str, object] = {"present": conv_listing is not None}
    if conv_listing is not None:
        side["n_files"] = sum(
            1 for n, _ in conv_listing if n.endswith(".parquet")
        )
        side["success_marker"] = any(
            n == "_SUCCESS" for n, _ in conv_listing
        )
    # crashed-compaction markers (<stage>.__compact_tmp__/__old__):
    # mid-swap the stage dir is ABSENT and reads as "missing"/
    # "never built" everywhere else — the marker is what routes the
    # diagnosis to "re-run --compact or any build/append entry to
    # settle" instead of a destructive rebuild.  ONE root listing.
    from .compaction import SUF_OLD, SUF_TMP

    root_names = {
        n for n, _ in (fsio.listdir_if_exists(spark, out_dir) or [])
    }
    crashed_compaction = sorted(
        s for s in list(STAGES) + [CONV_IDS]
        if (s + SUF_TMP) in root_names or (s + SUF_OLD) in root_names
    )
    return {
        "out": out_dir,
        "stages": stages,
        "conv_ids": side,
        "pending_intents": intents,
        "crashed_compaction": crashed_compaction,
        # torn = stages disagree on identity: >1 shared-identity
        # class (transcripts/stream stamps) OR a per-stage
        # params/gazetteer tear (replaying the crashed append resumes
        # the former; see append_kg_frames' docstring)
        "torn": len(classes) > 1 or bool(torn_stages),
        "torn_stages": torn_stages,
        "identity_classes": sorted(classes.values()),
    }


def check_kg_links(
    spark: SparkSession, out_dir: str, sample: int = 20
) -> dict:
    """Read-only link-coverage audit of a built KG
    (``jobs/kg_build.py --check-links``): runs
    :func:`~..operators.graph.unmatched_triple_endpoints` over the
    committed triples and links tables and reports every triple
    endpoint the edges stage's inner joins would have dropped.

    In-pipeline this is zero by construction (links are recomputed
    from the same mentions the triples came from, and the
    append/refresh guards keep the stages in lockstep).  Non-zero has
    two distinct causes, and the report says which: a CRASHED
    append/refresh mid-maintenance (pending write-ahead intents or a
    stage-identity tear — the repairable states; fix = resume/repair,
    NOT hand-editing tables) vs genuine out-of-band modification (a
    hand-rolled links overwrite, a partial restore).  The non-zero
    path therefore folds in :func:`kg_status`'s intent listing and
    tear diagnosis and emits ``probable_cause`` — without it an
    operator scheduled between a crash and its repair would be
    steered toward table surgery when re-running the append is the
    fix.  This is the scheduled-health-job companion of
    :func:`kg_status`: that one audits manifest identity from footers
    alone; this one audits the DATA relationship, so it pays two
    anti-join passes over the triples table (join strategy left to
    AQE, same as :func:`materialize_edges`: broadcast while links
    fits under the cap, shuffle anti-joins past it — at the 100 TB
    design point budget for the shuffle shape) — run it after
    out-of-band surgery or on a schedule, not per query.  Returns
    ``{audited, uncovered, by_endpoint, sample, not_committed,
    pending_intent_count, torn, probable_cause}`` with at most
    ``sample`` offending rows; ``probable_cause`` is None on a healthy
    report, and the intent count is an int (``pending_intent_count``,
    NOT kg_status's ``pending_intents`` list — different name so a
    consumer parsing both can never apply the wrong accessor).

    An uncommitted triples/links stage does NOT raise: auditing it
    would prove nothing, but the most common way a committed stage
    goes missing is a crashed refresh/append mid-overwrite — exactly
    the repairable state this audit's taxonomy exists to name — so
    the refusal is itself a report (``audited=False``,
    ``uncovered=None``, ``not_committed`` naming the stages, the same
    diagnosis fields) instead of an undifferentiated RuntimeError
    that an rc-based monitor reads as "the audit code broke".

    Race-bounding: the status snapshot feeding the diagnosis is taken
    BEFORE the anti-join scans (one snapshot also serves the commit
    refusal — kg_status's per-stage ``committed`` uses the same
    is_committed predicate, so no second manifest read); on the
    dirty path a second snapshot is taken after the scans and the
    two are OR-ed.  Without the pre-scan snapshot, an audit racing a
    resuming append could scan stray rows while the intent is still
    pending, then watch the resume commit and clear it before the
    diagnosis looks — misreporting a healthy self-repair as
    out-of-band table surgery."""
    from ..operators.graph import unmatched_triple_endpoints

    st = kg_status(spark, out_dir)
    not_committed = [
        s for s in ("triples", "links")
        if not st["stages"][s]["committed"]
    ]
    if not_committed:
        if st["crashed_compaction"]:
            cause = (
                "crashed compaction mid-swap (markers on: %s) — the "
                "verified data is one rename away; run --compact (or "
                "any build/append/refresh entry) to settle, do NOT "
                "rebuild or hand-edit"
                % ",".join(st["crashed_compaction"])
            )
        elif st["pending_intents"] or st["torn"]:
            cause = (
                "crashed append/refresh mid-maintenance — stage(s) %s "
                "not committed with a pending intent or identity "
                "tear; re-run the same append (or the refresh) to "
                "repair; see --status" % ",".join(not_committed)
            )
        else:
            cause = (
                "stage(s) %s not committed and no pending "
                "maintenance — never built, or out-of-band deletion; "
                "run/resume the build" % ",".join(not_committed)
            )
        return {
            "out": out_dir,
            "audited": False,
            "uncovered": None,
            "by_endpoint": {},
            "sample": [],
            "not_committed": not_committed,
            "pending_intent_count": len(st["pending_intents"]),
            "torn": st["torn"],
            "crashed_compaction": st["crashed_compaction"],
            "probable_cause": cause,
        }
    man = Manifest(out_dir, layout_version=LAYOUT_VERSION, spark=spark,
                   create=False)
    triples = spark.read.parquet(man.stage_path("triples"))
    links = spark.read.parquet(man.stage_path("links"))
    # persist across the two passes (count, then sample): without it
    # the sample pass would re-run both anti-joins — two more full
    # table scans on the non-zero path.  The missing table is empty
    # on every healthy build and a small fraction of triples
    # otherwise; MEMORY_AND_DISK spills rather than OOMs if an audit
    # ever catches a catastrophically torn build
    missing = unmatched_triple_endpoints(triples, links).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        by_ep = {
            r["endpoint"]: r["n"]
            for r in missing.groupBy("endpoint").count()
            .withColumnRenamed("count", "n").collect()
        }
        uncovered = sum(by_ep.values())
        # the diagnosis fields are ALWAYS present (uniform report
        # schema for scheduled consumers — a healthy report must not
        # KeyError the accessor that the unhealthy one trains); they
        # come from the PRE-scan snapshot, refreshed below on the
        # dirty path
        out: dict = {
            "out": out_dir,
            "audited": True,
            "uncovered": uncovered,
            "by_endpoint": by_ep,
            "sample": [],
            "not_committed": [],
            "pending_intent_count": len(st["pending_intents"]),
            "torn": st["torn"],
            "crashed_compaction": st["crashed_compaction"],
            "probable_cause": None,
        }
        if uncovered:
            out["sample"] = [
                row.asDict() for row in missing.orderBy(
                    "conv_id", "group_id", "triple_idx", "endpoint"
                ).limit(sample).collect()
            ]
            # diagnose the cause: a crashed append/refresh (pending
            # intents / identity tear — kg_status's predicates, which
            # judge recorded fingerprints, not disk bytes) is fixed
            # by resuming the maintenance, never by table surgery.
            # OR the pre-scan snapshot with a fresh post-scan one: a
            # resume racing the audit may have cleared its intent
            # DURING the scans (pre catches it), and a maintenance
            # run may have started during them (post catches it) —
            # either way the uncovered rows came from a maintenance
            # window, not from table surgery
            st_post = kg_status(spark, out_dir)
            maintenance = (
                st["pending_intents"] or st["torn"]
                or st["crashed_compaction"]
                or st_post["pending_intents"] or st_post["torn"]
                or st_post["crashed_compaction"]
            )
            # report the FRESHEST counts (what --status shows now)
            out["pending_intent_count"] = len(st_post["pending_intents"])
            out["torn"] = st_post["torn"]
            out["crashed_compaction"] = st_post["crashed_compaction"]
            out["probable_cause"] = (
                "crashed append/refresh/compact mid-maintenance (or "
                "one racing this audit) — re-run the same maintenance "
                "to repair; see --status"
                if maintenance
                else "out-of-band table modification — the committed "
                "links table does not cover the committed triples"
            )
        return out
    finally:
        missing.unpersist()


def _overwrite_commit(man: Manifest, stage: str, df: DataFrame,
                      ident: dict, inputs, after_write=None) -> None:
    """The one intent-protected overwrite-and-commit: write-ahead an
    ``overwrite``-kind intent, overwrite the stage dir, (optionally)
    run ``after_write``, commit, clear the intent.  Every overwrite
    commit in this module MUST go through here — a bare
    overwrite-then-commit has a crash window (write lands with a
    fresh ``_SUCCESS``, driver dies before ``man.commit``) in which
    the stale manifest record is validated by the new write's marker,
    and a later ``build_kg(resume=True)`` silently serves the new
    content under the old identity.  The intent makes the next
    entry's ``reconcile_intents`` delete the unlanded write instead
    (see Manifest.write_intent).

    The intent's ``pre_files`` snapshot the dir BEFORE the write: a
    crash that lands between the intent and the first byte of the
    overwrite leaves the old committed state byte-for-byte intact
    (``mode("overwrite")`` only deletes the dir at write start), and
    reconciliation proves that from the name listing — a fresh Spark
    write job generates new UUID part names, so name-set equality
    with the snapshot means the write never began and the healthy
    stage must NOT be dropped (at corpus scale that deletion costs a
    full re-extraction for a crash that touched nothing)."""
    t0 = time.time()
    spark = df.sparkSession
    pre_listing = fsio.listdir_if_exists(spark, man.stage_path(stage))
    pre_files = [
        n for n, _ in (pre_listing or []) if n.endswith(".parquet")
    ]
    intent = man.write_intent(stage, pre_files, ident, kind="overwrite")
    df.write.mode("overwrite").parquet(man.stage_path(stage))
    if after_write is not None:
        after_write()
    # stamp the intent's name into the commit record: reconciliation's
    # landed-proof for a same-identity overwrite becomes an exact,
    # process-independent match (record names THIS intent) instead of
    # a cross-process wall-clock comparison that a skewed or stepped
    # clock can invert (see Manifest.reconcile_intents)
    man.commit(stage, time.time() - t0, inputs=inputs, source_fp=ident,
               extra={"intent_file": intent})
    man.clear_intent(intent)


def _compaction_repairs(spark, man: Manifest) -> Dict[str, str]:
    """Entry-time settlement of crashed compaction swaps — thin
    deferred-import wrapper over
    :func:`~.compaction.repair_crashed_compactions` (compaction
    already imports this module inside its functions; importing it
    lazily here keeps the modules cycle-free in both directions)."""
    from .compaction import repair_crashed_compactions

    return repair_crashed_compactions(spark, man)


def build_kg(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str,
    resume: bool = True,
    dont_penalize=DEFAULT_DONT_PENALIZE,
    stage_concurrency: int = 4,
) -> Dict[str, str]:
    """Run (or resume) the staged build. Returns stage -> output path.

    ``stage_concurrency``: independent stages of the DAG run as
    concurrent Spark jobs from driver threads (1 = strict sequential).
    mentions ∥ group_entities once `extracted` commits, then
    groups ∥ triples ∥ canonicalize — safe because every stage reads
    only COMMITTED upstream parquet (immutable once written), writes
    its own directory, and manifest appends are lock-serialized.  The
    win is the same as domain_cv's fold concurrency: canonicalize is
    an iterative driver-barrier loop (large-star/small-star rounds)
    whose executor gaps the groups/triples scans fill; on a cluster
    the scheduler's FIFO interleave of independent jobs does the same.
    Tasks are submitted in topological order, so a worker can only
    block on futures submitted earlier — no deadlock at any pool
    size ≥ 1 (see :func:`..concurrency.run_concurrent_jobs`, which
    also cancels queued stages AND interrupts in-flight sibling Spark
    jobs on the first stage failure)."""
    man = Manifest(out_dir, layout_version=LAYOUT_VERSION, spark=spark)
    # settle crashed-append intents BEFORE any rebuild decision: a
    # stale intent reconciled AFTER a rebuild rewrites a stage's files
    # would delete legitimate data (its pre-listing describes the old
    # dir) — reconciling at entry, while the dir still matches the
    # crashed state, is what keeps that impossible
    man.reconcile_intents()
    # ...and crashed compaction swaps: a kill between compact_kg's two
    # renames leaves the stage dir absent with the verified data one
    # rename away — without the repair, resume would destructively
    # re-extract a corpus-scale stage a rename fixes
    _compaction_repairs(spark, man)

    # run identity: a resume against a CHANGED corpus (or changed
    # grouping params — they shape group_entities/groups/triples just
    # as the gazetteer shapes nodes) must rebuild, not serve stale
    # stages — every commit records the source tables' footer
    # fingerprints + params and is_committed refuses a mismatch
    source_fp = {
        "transcripts": table_fingerprint(
            fsio.join(corpus_dir, "transcripts.parquet"), spark=spark
        ),
        "gazetteer": table_fingerprint(
            fsio.join(corpus_dir, "gazetteer.parquet"), spark=spark
        ),
        "params": {"dont_penalize": sorted(dont_penalize or [])},
    }

    # one manifest parse for all resume checks (stages committed by
    # THIS run are never re-checked: each task decides before writing)
    base0 = man.committed()

    def committed(stage: str) -> bool:
        return resume and man.is_committed(
            stage,
            source_fp=_stage_identity(stage, source_fp),
            rec=base0.get(stage, {}),
        )

    def run_stage(stage: str, df_builder) -> str:
        path = man.stage_path(stage)
        if committed(stage):
            return path
        _overwrite_commit(
            man, stage, df_builder(),
            _stage_identity(stage, source_fp), STAGE_INPUTS.get(stage),
        )
        return path

    transcripts = spark.read.parquet(
        fsio.join(corpus_dir, "transcripts.parquet")
    )
    gazetteer = spark.read.parquet(
        fsio.join(corpus_dir, "gazetteer.parquet")
    )

    # -- stage tasks (each waits on its deps' futures, then builds) ----
    futs: Dict[str, object] = {}

    def _dep(name: str) -> str:
        f = futs[name]
        return f if isinstance(f, str) else f.result()

    def t_extracted() -> str:
        path = man.stage_path("extracted")
        conv_path = fsio.join(out_dir, CONV_IDS)
        if committed("extracted"):
            if not _conv_ids_ready(spark, conv_path):  # pre-side-table
                _rebuild_conv_ids(spark, path, conv_path)
            return path
        # side table rebuilt BEFORE the manifest commit (after_write):
        # a crash in between leaves extracted uncommitted, so the next
        # run rebuilds both — the append guards can never see a
        # committed extracted beside a stale-subset side table
        _overwrite_commit(
            man, "extracted", extract_rows(transcripts),
            _stage_identity("extracted", source_fp),
            STAGE_INPUTS["extracted"],
            after_write=lambda: _rebuild_conv_ids(spark, path, conv_path),
        )
        return path

    def t_mentions() -> str:
        ex = spark.read.parquet(_dep("extracted"))
        return run_stage("mentions", lambda: mentions_from_rows(ex))

    def t_group_entities() -> str:
        ex = spark.read.parquet(_dep("extracted"))
        return run_stage(
            "group_entities",
            lambda: group_entities(ex, dont_penalize=dont_penalize),
        )

    def t_groups() -> str:
        ge = spark.read.parquet(_dep("group_entities"))
        return run_stage("groups", lambda: groups_summary(ge))

    def t_triples() -> str:
        ge = spark.read.parquet(_dep("group_entities"))
        return run_stage("triples", lambda: triples_op(ge))

    def t_canon() -> str:
        # links+nodes share one canonicalize() computation, so they
        # commit as one task; returns the links path (nodes path is
        # man.stage_path("nodes")).
        if not (committed("links") and committed("nodes")):
            mentions_df = spark.read.parquet(_dep("mentions"))
            # checkpoint iff BOTH outputs will be written below — on a
            # resume with one side committed, a checkpoint would only
            # add a materialization for the single consumer
            links_df, nodes_df = canonicalize(
                mentions_df, gazetteer,
                checkpoint=(
                    not committed("links") and not committed("nodes")
                ),
            )
            for stage, df in (("links", links_df), ("nodes", nodes_df)):
                if not committed(stage):
                    _overwrite_commit(
                        man, stage, df,
                        _stage_identity(stage, source_fp),
                        STAGE_INPUTS[stage],
                    )
        return man.stage_path("links")

    def t_edges() -> str:
        from ..operators.graph import materialize_edges

        links_tbl = spark.read.parquet(_dep("canon"))
        triples_tbl = spark.read.parquet(_dep("triples"))
        return run_stage(
            "edges", lambda: materialize_edges(triples_tbl, links_tbl)
        )

    # topological submission order (every task's deps appear earlier)
    TASKS = [
        ("extracted", t_extracted),
        ("mentions", t_mentions),
        ("group_entities", t_group_entities),
        ("groups", t_groups),
        ("triples", t_triples),
        ("canon", t_canon),
        ("edges", t_edges),
    ]

    return _run_stage_dag(spark, TASKS, stage_concurrency, futs, man)


def _run_stage_dag(spark, tasks, stage_concurrency, futs, man,
                   cleanup=()) -> Dict[str, str]:
    """Shared tail of build_kg / append_kg_frames: run the task DAG as
    concurrent Spark jobs, release any shared cached inputs, assemble
    the stage→path dict (the fused "canon" task covers links+nodes)."""
    try:
        run_concurrent_jobs(
            spark, tasks, max(1, int(stage_concurrency)), futs=futs
        )
    finally:
        for df in cleanup:
            df.unpersist()
    paths = {}
    for name, _fn in tasks:
        if name == "canon":
            continue
        f = futs[name]
        paths[name] = f if isinstance(f, str) else f.result()
    paths["links"] = man.stage_path("links")
    paths["nodes"] = man.stage_path("nodes")
    return paths


def append_kg(
    spark: SparkSession,
    new_corpus_dir: str,
    out_dir: str,
    dont_penalize=DEFAULT_DONT_PENALIZE,
    stage_concurrency: int = 4,
) -> Dict[str, str]:
    """Append NEW conversations to an existing KG build — the
    incremental path for a corpus that grows after the initial build.
    Output is row-identical to a fresh :func:`build_kg`
    over the union corpus (pytest-gated), because:

    * extracted/mentions/group_entities/groups/triples are strictly
      per-conversation (ids are ``conv_id:gNNNN``; every window is
      partitioned by conv_id), so for DISJOINT conv_ids the delta's
      rows are exactly the union's new rows — parquet
      ``mode("append")`` file-adds, the 100 TB history is never
      re-extracted or re-shuffled.
    * links/nodes/edges are GLOBAL (a new surface can merge two old
      components, relabeling node_ids to a new min member key), so
      they are recomputed over the union and overwritten.  That
      recompute scans only the slim union mentions/triples tables —
      orders of magnitude smaller than the corpus — and the CC runs
      on the distinct-surface star graph (1-2 rounds), so the
      expensive corpus-scale work stays append-only.

    Guards: every stage of the base build must be committed and agree
    on source identity; the gazetteer and the grouping params must
    match the base build's (gazetteer by footer fingerprint —
    rows+bytes+file count, not a content hash, see
    :func:`.manifest.table_fingerprint` — node identity depends on
    it); overlapping conv_ids raise (appending already-ingested
    conversations would silently double every per-conversation table
    — de-duplicate the delta first).  A CRASHED append, by contrast,
    is RECOVERED by simply re-running the same call: write-ahead
    intents revert any landed-but-uncommitted stage files at entry,
    and a run killed mid-DAG (some stages committed, some not) is
    resumed — the file-backed delta fingerprint plus conversation
    containment prove the retry carries the crashed delta, committed
    stages are skipped by identity, the rest get the delta.  A run
    killed AFTER its final stage commit is a no-op retry: the
    extracted record's stored ``delta_fp`` proves the last applied
    delta was exactly this one, so the re-run returns the paths
    instead of raising the double-append error.  A retry with a
    DIFFERENT delta over the torn base raises.  Caveat: a base whose
    lineage contains streamed micro-batches (rows-only fingerprints)
    cannot prove a PLAIN retry's identity — resume such a base by
    replaying the stream, or rebuild.  On a real
    deployment each appended stage would be one Iceberg append
    snapshot and this machinery is its snapshot-rollback/retry story.

    Each appended/recomputed stage appends a fresh manifest record
    whose source fingerprint is the element-wise SUM of the base's
    and the delta's (the union identity) — so a later
    ``build_kg(resume=True)`` against either original corpus alone
    correctly refuses to resume into the appended output.
    """
    transcripts_b = spark.read.parquet(
        fsio.join(new_corpus_dir, "transcripts.parquet")
    )
    gazetteer = spark.read.parquet(
        fsio.join(new_corpus_dir, "gazetteer.parquet")
    )
    return append_kg_frames(
        spark, transcripts_b, gazetteer,
        gazetteer_fp=table_fingerprint(
            fsio.join(new_corpus_dir, "gazetteer.parquet"), spark=spark
        ),
        out_dir=out_dir,
        dont_penalize=dont_penalize,
        stage_concurrency=stage_concurrency,
        delta_transcripts_fp=table_fingerprint(
            fsio.join(new_corpus_dir, "transcripts.parquet"), spark=spark
        ),
    )


def _fp_add(a: dict, b: dict) -> dict:
    """Element-wise fingerprint sum; -1 (not file-backed, e.g. a
    streaming micro-batch) is absorbing."""
    return {
        k: (a[k] + b[k] if a[k] >= 0 and b[k] >= 0 else -1)
        for k in ("rows", "bytes", "n_files")
    }


def append_kg_frames(
    spark: SparkSession,
    transcripts_b: DataFrame,
    gazetteer: DataFrame,
    gazetteer_fp: dict,
    out_dir: str,
    dont_penalize=DEFAULT_DONT_PENALIZE,
    stage_concurrency: int = 4,
    delta_transcripts_fp: Optional[dict] = None,
    batch_id: Optional[int] = None,
    stream_id: Optional[str] = None,
) -> Dict[str, str]:
    """DataFrame-based core of :func:`append_kg` — also the
    foreachBatch body for streaming ingestion
    (:mod:`webstruct_spark.streaming.kg_ingest`).

    The delta is persisted for the duration of the call: the guards
    (conv-id distinct, overlap checks, side-table write) and the
    extract each take an action over it, and without the cache every
    action re-reads the delta's input files.

    ``delta_transcripts_fp``: footer fingerprint of the delta when it
    is file-backed; None means a frame-only delta (streaming batch) —
    its row count is measured and bytes/n_files recorded as the -1
    "not file-backed" sentinel (after which build_kg can never
    resume-match this out_dir against a corpus dir, which is correct:
    it no longer corresponds to one).

    ``batch_id``: monotone micro-batch id for EXACTLY-ONCE streaming
    appends — the id is stamped into every commit record's source
    fingerprint, and a replayed batch (foreachBatch is at-least-once
    after a failure) with id ≤ the last committed one is verified to
    be a TRUE replay (no conversations outside the base) and then
    skipped.  A reset checkpoint whose "replay" gained new files
    raises — silently skipping would drop the new conversations,
    appending would double the old ones.

    ``stream_id``: identity of the CHECKPOINT the batch ids are
    monotone within (kg_ingest persists one per checkpoint dir).
    Spark's batch ids restart at 0 for every new checkpoint, so
    without this a lost checkpoint bricked the out_dir: any fresh
    stream's batch 0 hit the ≤-last-committed replay branch and
    raised forever, making the error's own "fresh input dir"
    recovery advice impossible.  Ids from a DIFFERENT stream skip
    the replay branch entirely and rely on the conv-id overlap guard
    (so a fresh checkpoint + an input dir of only-new files appends
    normally).  None matches any stream — the pre-stream_id upgrade
    path.

    Crash resume: a run killed MID-DAG leaves some stages committed
    at the batch's identity and the rest at the pre-batch one (write-
    ahead intents revert any landed-but-uncommitted files first).
    Replaying the exact crashed batch (same stream + id — what the
    streaming retry does) RESUMES it: already-committed stages are
    skipped by identity, the rest get the delta.  Any other call over
    a torn base still raises.
    """
    tb = transcripts_b.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return _append_kg_frames_impl(
            spark, tb, gazetteer, gazetteer_fp, out_dir,
            dont_penalize=dont_penalize,
            stage_concurrency=stage_concurrency,
            delta_transcripts_fp=delta_transcripts_fp,
            batch_id=batch_id, stream_id=stream_id,
        )
    finally:
        tb.unpersist()


def _rebuild_global_stages(
    spark: SparkSession,
    man: Manifest,
    gazetteer: DataFrame,
    full_fp: dict,
    stages_to_build,
    input_prefix: str = "repair:",
) -> None:
    """Recompute global overwrite stages from the committed slim
    tables, committing at ``full_fp``'s identity — the shared tail of
    the mid-overwrite crash repair (``input_prefix='repair:'``) AND
    :func:`refresh_gazetteer`'s re-link (``'refresh:'`` — same
    recompute, the identity just carries a new gazetteer).  Only the
    stages in ``stages_to_build`` are written; links+nodes share one
    canonicalize (as everywhere), edges rebuilds after links so a
    links+edges double-loss repairs in dependency order."""
    todo = [s for s in GLOBAL_STAGES if s in stages_to_build]

    def commit(stage: str, df: DataFrame) -> None:
        _overwrite_commit(
            man, stage, df, _stage_identity(stage, full_fp),
            [input_prefix + i for i in STAGE_INPUTS[stage]],
        )

    if "links" in todo or "nodes" in todo:
        mentions_tbl = spark.read.parquet(man.stage_path("mentions"))
        links_df, nodes_df = canonicalize(
            mentions_tbl, gazetteer,
            checkpoint=("links" in todo and "nodes" in todo),
        )
        if "links" in todo:
            commit("links", links_df)
        if "nodes" in todo:
            commit("nodes", nodes_df)
    if "edges" in todo:
        from ..operators.graph import materialize_edges

        commit("edges", materialize_edges(
            spark.read.parquet(man.stage_path("triples")),
            spark.read.parquet(man.stage_path("links")),
        ))


def _append_kg_frames_impl(
    spark: SparkSession,
    transcripts_b: DataFrame,
    gazetteer: DataFrame,
    gazetteer_fp: dict,
    out_dir: str,
    dont_penalize,
    stage_concurrency: int,
    delta_transcripts_fp: Optional[dict],
    batch_id: Optional[int],
    stream_id: Optional[str],
) -> Dict[str, str]:
    # read-only handle until the preamble proves a committed base —
    # an append against a typo'd out_dir must refuse WITHOUT leaving
    # a fresh manifest.d behind (see Manifest.ensure_dirs)
    man = Manifest(out_dir, layout_version=LAYOUT_VERSION, spark=spark,
                   create=False)
    # settle any crashed append's landed-but-uncommitted stage write
    # FIRST: every read below (the replay check, the overlap
    # disambiguation, _rebuild_conv_ids) trusts the stage dirs to
    # match the manifest.  Then crashed compaction swaps: mid-swap
    # the stage dir is absent (this preamble would refuse "missing
    # stages" for a state one rename repairs), and post-swap-
    # pre-recommit the record's totals are stale (this append's
    # prior_rec roll-forward would commit totals that disagree with
    # disk)
    man.reconcile_intents()
    _compaction_repairs(spark, man)
    base = man.committed()
    missing = [
        s for s in STAGES
        if not man.is_committed(s, rec=base.get(s, {}))
    ]
    # a GLOBAL stage missing its _SUCCESS is the mid-overwrite-write
    # crash window (mode("overwrite") deletes the old dir before
    # writing): this very call recomputes links/nodes/edges over the
    # union and overwrites them, so the retry proceeds — raising here
    # would make the documented "re-run the same append" recovery a
    # crash-loop whose only exit is a full rebuild
    missing_global = [s for s in missing if s in GLOBAL_STAGES]
    missing = [s for s in missing if s not in GLOBAL_STAGES]
    if missing:
        raise ValueError(
            "append_kg needs a fully committed base build; missing "
            "stages: %s" % ", ".join(missing)
        )
    # committed base proven → this is a real build dir; safe to
    # create the records dir (no-op unless the base is a legacy
    # jsonl-only manifest being upgraded)
    man.ensure_dirs()
    # `missing` is [] here (non-empty raised above), so presence only
    # excludes the crash-destroyed global stages
    present = [s for s in STAGES if s not in missing_global]
    if any(base[s].get("source_fp") is None for s in present):
        raise ValueError(
            "append_kg needs a base build with recorded source "
            "fingerprints (rebuild once with this version)"
        )

    # per-stage identities (STAGE_IDENTITY_KEYS): transcripts + the
    # stream batch id are shared by every stage; params/gazetteer by
    # the stages that depend on them.  Missing (crashed-overwrite)
    # global stages carry no identity to compare — they are
    # recomputed below regardless.
    fp_of = {s: base[s]["source_fp"] for s in present}
    base_transcripts = fp_of["extracted"]["transcripts"]
    base_params = fp_of["group_entities"].get("params")
    _gaz_anchor = next((s for s in GLOBAL_STAGES if s in fp_of), None)
    # With all three global stages mid-crash-missing, their
    # still-readable manifest records (invalidated — _SUCCESS gone —
    # but never deleted) are the anchor of last resort: they carry
    # the gazetteer fingerprint the destroyed build was linked with,
    # so the drift refusal below still fires if the corpus dir's
    # gazetteer changed in the meantime.  Falling straight back to
    # the CALLER's fingerprint would make that refusal trivially
    # pass and silently re-link the rebuilt stages with a drifted
    # gazetteer — node identities changing under an operation whose
    # contract is that they never do.  Only when not even a record
    # survives (the globals were never committed at all) is there no
    # identity to preserve and the caller's gazetteer is what the
    # recompute gets.
    base_gazetteer = (
        fp_of[_gaz_anchor].get("gazetteer") if _gaz_anchor
        else next(
            (base[s]["source_fp"]["gazetteer"] for s in GLOBAL_STAGES
             if isinstance(base.get(s, {}).get("source_fp"), dict)
             and "gazetteer" in base[s]["source_fp"]),
            gazetteer_fp,
        )
    )
    last_batch = fp_of["extracted"].get("stream_batch_id")
    last_stream = fp_of["extracted"].get("stream_id")
    # a FILE-BACKED delta fingerprint (exact rows+bytes+n_files from
    # the parquet footers) is the strongest identity a plain append
    # carries; frame-only deltas (streaming micro-batches) synthesize
    # a rows-only fp below and rely on the stream+batch id instead
    fp_is_file_backed = (
        delta_transcripts_fp is not None
        and delta_transcripts_fp.get("bytes", -1) >= 0
        and delta_transcripts_fp.get("n_files", -1) >= 0
    )
    # every stage must agree on its identity parts (see _torn_stages):
    # a crashed earlier append can leave extracted at A+B while groups
    # is still at A — a later disjoint delta would then build on a
    # base with permanently missing rows, with no guard tripping
    tears = _stage_tears(fp_of)
    torn = [s for s in STAGES if s in tears]
    # A GAZETTEER-ONLY tear is never a crashed append (every append
    # commits all its stages under one gazetteer fingerprint): it is
    # the signature of a crashed refresh_gazetteer — some global
    # stages re-linked at the new gazetteer, the rest still at the
    # old.  The generic refusal below would tell the operator to
    # "re-run the crashed append", which never existed and whose
    # retry raises this same error forever; the actual fix is a
    # one-line refresh re-run (idempotent — it recomputes exactly
    # the stages that disagree), so say that.
    if torn and all(set(c) == {"gazetteer"} for c in tears.values()):
        raise ValueError(
            "append_kg: global stages disagree on their gazetteer "
            "fingerprint (%s) — a previous refresh_gazetteer "
            "crashed mid-run (this is not a crashed append); "
            "re-run refresh_gazetteer with the new gazetteer to "
            "finish the refresh (or with the base's original one "
            "to roll it back), then retry this append"
            % ", ".join(torn)
        )
    # A torn base is RESUMABLE when the caller replays the exact
    # crashed batch (the streaming retry: same stream, same id): the
    # ahead stages — already committed at the post-batch identity —
    # are skipped by commit_write's build_kg-style identity check, the
    # behind stages get the delta.  Anything else (no batch identity
    # to prove the replay, behind stages disagreeing among themselves,
    # the tear touching params/gazetteer) still raises: appending on a
    # guess could double or drop rows.
    resume_mode = False
    if torn:
        ahead_fp = fp_of["extracted"]
        behind_fp = fp_of[torn[0]]

        def _shared(fp: dict) -> tuple:
            return (
                fp.get("transcripts"),
                fp.get("stream_batch_id"),
                fp.get("stream_id"),
            )

        # no condition on the BEHIND stages' stream/batch: a base
        # previously streamed by another checkpoint leaves them
        # carrying THAT stream's identity (even the same batch
        # number — ids restart per checkpoint), and that is a
        # perfectly resumable shape; the proof that this call is the
        # crashed batch is the ahead identity + the delta
        # reconstruction + conversation checks below
        streamed_replay = (
            batch_id is not None
            and stream_id is not None
            and ahead_fp.get("stream_batch_id") == batch_id
            and ahead_fp.get("stream_id") == stream_id
        )
        # a crashed PLAIN append (append_kg / --append: no batch or
        # stream identity of its own) keeps the base's stream stamps
        # on the stages it committed, so ahead and behind agree on
        # them; the proof the retry carries the same delta is its
        # FILE-BACKED fingerprint (exact rows+bytes+n_files, stronger
        # than streaming's rows-only) + the conversation checks below.
        # The file-backed fp is REQUIRED here — without it (a
        # frame-only retry) the reconstruction proof degrades to
        # rows-only with no batch identity backing it up, so a
        # different delta with a colliding row count could slip
        # through; streaming's rows-only proof is acceptable only
        # because the stream+batch id pins the replay there.  The
        # BASE's lineage must be file-backed too: once any streamed
        # micro-batch made the base fp -1-absorbed (_fp_add), the
        # union==ahead reconstruction check below also degrades to
        # rows-only no matter how exact the delta's fp is — a
        # same-row-count delta of already-extracted conversations
        # would pass it, so such a base can only be resumed by the
        # stream's own replay (or rebuilt).
        base_fp_file_backed = (
            (behind_fp.get("transcripts") or {}).get("bytes", -1) >= 0
            and (behind_fp.get("transcripts") or {}).get(
                "n_files", -1) >= 0
        )
        plain_replay = (
            batch_id is None
            and stream_id is None
            and fp_is_file_backed
            and base_fp_file_backed
            and ahead_fp.get("stream_batch_id")
            == behind_fp.get("stream_batch_id")
            and ahead_fp.get("stream_id")
            == behind_fp.get("stream_id")
        )
        resumable = (
            (streamed_replay or plain_replay)
            and all(_shared(fp_of[s]) == _shared(behind_fp)
                    for s in torn)
            and all(
                fp_of[s].get("params") == base_params
                for s in fp_of
                if "params" in STAGE_IDENTITY_KEYS[s]
            )
            and all(
                fp_of[s].get("gazetteer") == base_gazetteer
                for s in fp_of
                if "gazetteer" in STAGE_IDENTITY_KEYS[s]
            )
        )
        if not resumable:
            raise ValueError(
                "append_kg: base stages disagree on source identity "
                "(%s) — a previous append crashed mid-run and this "
                "call does not replay it; re-run the crashed append "
                "with the same delta (streaming: replay the same "
                "stream + batch id; plain: re-run --append with the "
                "original FILE-BACKED delta dir — a base with "
                "streamed lineage can only be resumed by the "
                "stream's replay) to resume it, or rebuild with "
                "build_kg" % ", ".join(torn)
            )
        resume_mode = True
        # the TRUE pre-batch base is the behind stages' identity; the
        # union computed from it must reconstruct the ahead stages'
        # identity exactly (verified below, once the delta fingerprint
        # is known)
        base_transcripts = behind_fp["transcripts"]
        last_batch = behind_fp.get("stream_batch_id")
        last_stream = behind_fp.get("stream_id")
    # error-message parts for the two resume flavors: a streamed
    # replay is named by its batch and restored from the stream; a
    # plain (CLI) retry has no batch — its recovery is re-running
    # --append with the original delta dir
    replay_what = (
        "batch %s" % batch_id if batch_id is not None
        else "a plain append"
    )
    replay_fix = (
        "restore the original batch" if batch_id is not None
        else "re-run --append with the original delta dir"
    )
    if base_gazetteer != gazetteer_fp:
        raise ValueError(
            "append_kg: gazetteer differs from the base build's "
            "(%r vs %r) — node identity depends on it; rebuild"
            % (base_gazetteer, gazetteer_fp)
        )
    params = {"dont_penalize": sorted(dont_penalize or [])}
    if base_params != params:
        raise ValueError(
            "append_kg: grouping params differ from the base build's "
            "(%r vs %r) — the delta's groups/triples would not match "
            "a fresh union build; pass the base's params or rebuild"
            % (base_params, params)
        )

    def _paths() -> Dict[str, str]:
        """Every no-op/skip exit goes through here: if a previous
        run's crash destroyed a GLOBAL stage mid-overwrite, the
        skipped-DAG exits would otherwise return success over a build
        with a missing/partial links/nodes/edges dir — rebuild those
        from the committed slim tables at the base's CURRENT identity
        first (the fast paths all established that the delta itself
        needs no reapplying)."""
        if missing_global:
            cur_fp = dict(fp_of["extracted"])
            cur_fp["gazetteer"] = base_gazetteer
            cur_fp["params"] = base_params
            _rebuild_global_stages(
                spark, man, gazetteer, cur_fp, missing_global
            )
            missing_global.clear()
        return {s: man.stage_path(s) for s in STAGES}

    def _stage_convs(stage: str) -> DataFrame:
        """Distinct conv_ids of a committed stage's DATA FILES — the
        exact (not side-table-superset) read every rare-path guard
        below shares, so a fix to one stays a fix to all."""
        return (
            spark.read.parquet(man.stage_path(stage))
            .select("conv_id").distinct()
        )

    # the _conv_ids side table keeps these guards O(delta); older
    # builds without one (or with a crashed partial write) get it
    # rebuilt from extracted once
    conv_path = fsio.join(out_dir, CONV_IDS)
    if not _conv_ids_ready(spark, conv_path):
        _rebuild_conv_ids(spark, man.stage_path("extracted"), conv_path)
    existing_convs = spark.read.parquet(conv_path)
    delta_convs = transcripts_b.select("conv_id").distinct()

    # a replayed id only means "already applied" if it belongs to the
    # SAME stream: every new checkpoint restarts Spark's batch ids at
    # 0, so a fresh stream's ids say nothing about this out_dir.
    # None on either side matches any stream (pre-stream_id builds /
    # direct callers) — the overlap guard below stays the backstop.
    same_stream = (last_stream is None or stream_id is None
                   or stream_id == last_stream)
    # resume_mode guard: when resuming, last_batch is the BEHIND
    # stages' (pre-batch) id; over a legacy streamed base
    # (stream_id=None, batch ids present) the crashed batch's id can
    # be ≤ it, and this branch would skip the batch as "already
    # applied" — the exact silent loss the resume exists to fix
    if (batch_id is not None and last_batch is not None
            and same_stream and not resume_mode
            and batch_id <= last_batch):
        # an already-committed id is only skippable if it is a TRUE
        # replay: a lost/reset streaming checkpoint restarts ids at 0
        # over the whole input dir, and if NEW files landed meanwhile
        # the replayed "batch 0" mixes consumed and unseen
        # conversations — skipping it would silently drop the new
        # ones, so that case raises instead.  The check reads the
        # COMMITTED extracted table, not the _conv_ids superset: a
        # crashed append leaves its convs in the side table but NOT in
        # the KG, and trusting the superset here would skip their
        # replay — permanent silent loss.  (Exact-set cost is fine:
        # this branch only runs on the rare replayed-id path; the
        # every-append overlap guard below stays on the O(delta) side
        # table, where superset errs toward raising, never skipping.)
        unseen = delta_convs.join(
            _stage_convs("extracted"), "conv_id", "left_anti"
        ).limit(1).count()
        if unseen:
            raise ValueError(
                "append_kg: batch_id %d <= last committed %d (same "
                "stream) but the batch contains conversations not in "
                "the base — the streaming checkpoint was reset over "
                "an input dir that gained new files; restore the "
                "checkpoint, or start over with a FRESH checkpoint "
                "dir (new stream identity) pointed at an input dir "
                "holding only the un-ingested files"
                % (batch_id, last_batch)
            )
        return _paths()  # true replay — already applied

    if delta_transcripts_fp is None:
        n_delta = transcripts_b.count()
        if n_delta == 0:
            if resume_mode:
                # an empty replay cannot carry the crashed batch's
                # data; returning success would leave the base torn
                # while the caller believes it was repaired
                raise ValueError(
                    "append_kg: resuming a crashed append "
                    "(%s) but the replay is empty — it cannot "
                    "carry the crashed data; %s or rebuild with "
                    "build_kg" % (replay_what, replay_fix)
                )
            return _paths()  # empty micro-batch
        delta_transcripts_fp = {
            "rows": n_delta, "bytes": -1, "n_files": -1
        }
    union_fp = {
        "transcripts": _fp_add(base_transcripts, delta_transcripts_fp),
        "gazetteer": base_gazetteer,
        "params": params,
    }
    next_batch = batch_id if batch_id is not None else last_batch
    if next_batch is not None:
        union_fp["stream_batch_id"] = next_batch
        # the ids' stream identity travels with them; a batch without
        # its own keeps the base's (plain append_kg into a streamed
        # build must not erase it)
        next_stream = stream_id if stream_id is not None else last_stream
        if next_stream is not None:
            union_fp["stream_id"] = next_stream
    if resume_mode and (
        union_fp["transcripts"] != fp_of["extracted"]["transcripts"]
    ):
        raise ValueError(
            "append_kg: resuming a crashed append (%s) but this delta "
            "does not reconstruct the committed stages' identity "
            "(%r + delta -> %r, committed %r) — the replay carries "
            "different data; %s or rebuild with build_kg" % (
                replay_what, base_transcripts, union_fp["transcripts"],
                fp_of["extracted"]["transcripts"], replay_fix,
            )
        )

    if resume_mode:
        # row totals can collide across different deltas (the frame
        # fingerprint is rows-only); also require every replayed
        # conversation to be one the ahead stages actually committed
        unseen = delta_convs.join(
            _stage_convs("extracted"), "conv_id", "left_anti"
        ).limit(1).count()
        if unseen:
            raise ValueError(
                "append_kg: resuming a crashed append (%s) but the "
                "delta holds conversations the committed stages "
                "never saw — the replay carries different data; %s "
                "or rebuild with build_kg" % (replay_what, replay_fix)
            )
        # ...and none that predate the batch: extracted = base ∪
        # batch, so delta ⊆ extracted alone also admits a wrong
        # replay made of ALREADY-INGESTED base conversations (which a
        # rows-only fingerprint cannot tell apart) — appending those
        # to the behind stages would duplicate them.  A behind APPEND
        # stage holds exactly the pre-batch conversations; the true
        # batch's convs cannot appear in it.  (If only the overwrite
        # stages are behind, they recompute from the on-disk unions
        # and never consume the delta, so no check is needed.)
        behind_appends = [
            s for s in torn
            if s in ("mentions", "group_entities", "groups", "triples")
        ]
        if behind_appends:
            dup = delta_convs.join(
                _stage_convs(behind_appends[0]), "conv_id"
            ).limit(1).count()
            if dup:
                raise ValueError(
                    "append_kg: resuming a crashed append (%s) but "
                    "the delta holds conversations already in the "
                    "pre-batch base — the replay carries different "
                    "data; %s or rebuild with build_kg"
                    % (replay_what, replay_fix)
                )

    overlap = (
        existing_convs.join(delta_convs, "conv_id").limit(1).count()
    )
    # in resume mode the overlap with the ahead stages is EXPECTED
    # (that is what is being resumed) and exactly characterized by the
    # identity checks above — the heuristic disambiguation below would
    # misread it as "fully applied" and skip the behind stages
    if overlap and not resume_mode:
        # the side table is a deliberate SUPERSET (ids land before
        # any stage write), so overlap is ambiguous: a true
        # double-append, a full replay under a NEW stream identity
        # (lost checkpoint re-ingesting an unchanged input dir), or
        # orphans of a crashed attempt that never wrote a stage
        # file.  Disambiguate EXACTLY against the extracted table's
        # data files (rare path — the exact read is acceptable here,
        # the every-append guard above stays O(delta)); "landed"
        # includes stray part files of a half-landed crash, which
        # must never be doubled.
        landed = _stage_convs("extracted")
        any_landed = bool(
            delta_convs.join(landed, "conv_id").limit(1).count()
        )
        any_unseen = bool(
            delta_convs.join(landed, "conv_id", "left_anti")
            .limit(1).count()
        )
        if any_landed and not any_unseen and batch_id is not None:
            # every conversation already fully ingested + an
            # automated (streaming) caller: a fresh checkpoint
            # re-draining a static input dir — exactly-once means
            # skip, not crash-loop
            return _paths()
        if (
            any_landed and not any_unseen and batch_id is None
            and fp_is_file_backed
            and base["extracted"].get("delta_fp") == delta_transcripts_fp
            and base["extracted"].get("delta_batch_id") is None
        ):
            # a plain --append that crashed AFTER its final stage
            # commit (all stages landed, nothing torn) and is being
            # re-run per the documented recovery: the base's extracted
            # record says the LAST delta it applied was exactly this
            # file-backed one (rows+bytes+n_files), so the retry is a
            # fully-applied no-op — raising "de-duplicate first" here
            # would misdirect the operator of a successful append
            return _paths()
        if any_landed:
            # mixed (skipping loses the unseen part, appending
            # doubles the landed part) or an EXPLICIT batch append
            # of already-ingested conversations — both raise
            raise ValueError(
                "append_kg: delta shares conv_ids with the base "
                "build — appending would double their rows; "
                "de-duplicate first"
            )
        # pure side-table orphans: a prior attempt crashed before
        # any stage write — the retry that previously wedged
        # forever proceeds
    # record the delta's conv_ids BEFORE any stage write: if the run
    # crashes mid-append, the side table is a SUPERSET of what landed
    # and a blind retry trips the guard above, which either fails
    # safe (any rows landed) or recovers (pure orphans).  left_anti
    # keeps the side table duplicate-free on the orphan-retry path
    # (and is a no-op filter on the common disjoint path).
    delta_convs.join(existing_convs, "conv_id", "left_anti").write.mode(
        "append"
    ).parquet(conv_path)

    def commit_write(stage: str, df, mode: str) -> str:
        path = man.stage_path(stage)
        # build_kg-style resume skip: a stage already committed at
        # THIS union identity holds the batch (the ahead stages of a
        # resumed crashed append; unreachable for a fresh batch, whose
        # identity is new).  The producer still computes its delta
        # DataFrame for dependents — only the write+commit is skipped.
        if man.is_committed(
            stage,
            source_fp=_stage_identity(stage, union_fp),
            rec=base.get(stage, {}),
        ):
            return path
        t0 = time.time()
        if mode == "append":
            # O(delta) lineage: footer-read only the part files this
            # write adds; totals roll forward from the prior record
            pre = set(fsio.listdir_names(spark, path))
            # write-ahead intent: if we die after the Spark job
            # commits but before man.commit records it, the next
            # run's reconcile_intents deletes exactly the files this
            # write added — without it that crash is SILENT loss (a
            # replayed batch sees its conv_ids "landed" in extracted
            # and skips, leaving every downstream stage short)
            ident = _stage_identity(stage, union_fp)
            intent = man.write_intent(
                stage,
                [n for n in pre if n.endswith(".parquet")],
                ident,
            )
            df.write.mode("append").parquet(path)
            new_files = [
                n for n in fsio.listdir_names(spark, path)
                if n not in pre and n.endswith(".parquet")
            ]
            man.commit(
                stage, time.time() - t0,
                inputs=["delta:" + i for i in STAGE_INPUTS[stage]],
                source_fp=ident,
                only_files=new_files,
                prior_rec=base[stage],
                # provenance of the delta this commit applied — the
                # fully-applied plain-retry skip in the overlap guard
                # reads it back (and it survives record compaction,
                # which keeps the latest record per stage)
                extra={
                    "delta_fp": delta_transcripts_fp,
                    "delta_batch_id": batch_id,
                    "delta_stream_id": stream_id,
                },
            )
            man.clear_intent(intent)
        else:
            _overwrite_commit(
                man, stage, df, _stage_identity(stage, union_fp),
                ["union:" + i for i in STAGE_INPUTS[stage]],
            )
        return path

    futs: Dict[str, object] = {}
    # delta DataFrames shared across tasks — each producer persists
    # its DataFrame and materializes it (via its own append write)
    # BEFORE its future resolves, so a consumer that has waited on
    # _dep(producer) reads cached blocks instead of recomputing the
    # extract/grouping chain; the finally below frees them
    state: Dict[str, DataFrame] = {}

    def _dep(name: str) -> str:
        f = futs[name]
        return f if isinstance(f, str) else f.result()

    def t_extracted() -> str:
        ex_b = extract_rows(transcripts_b).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        state["ex_b"] = ex_b
        return commit_write("extracted", ex_b, "append")

    def t_mentions() -> str:
        _dep("extracted")
        return commit_write(
            "mentions", mentions_from_rows(state["ex_b"]), "append"
        )

    def t_group_entities() -> str:
        _dep("extracted")
        ge_b = group_entities(
            state["ex_b"], dont_penalize=dont_penalize
        ).persist(StorageLevel.MEMORY_AND_DISK)
        state["ge_b"] = ge_b
        return commit_write("group_entities", ge_b, "append")

    def t_groups() -> str:
        _dep("group_entities")
        return commit_write(
            "groups", groups_summary(state["ge_b"]), "append"
        )

    def t_triples() -> str:
        _dep("group_entities")
        return commit_write(
            "triples", triples_op(state["ge_b"]), "append"
        )

    def t_canon() -> str:
        # global: recompute over the UNION mentions (slim table)
        mentions_path = _dep("mentions")
        # resume fast path: a retry of an append that crashed AFTER
        # the links+nodes commits (e.g. at edges) finds both already
        # committed at the union identity.  commit_write's own skip
        # fires only after canonicalize() has run — and canonicalize
        # is EAGER (localCheckpoint + the connected-components driver
        # loop), the most expensive global recompute in the DAG — so
        # check first and skip the whole thing.
        if all(
            man.is_committed(
                s, source_fp=_stage_identity(s, union_fp),
                rec=base.get(s, {}),
            )
            for s in ("links", "nodes")
        ):
            return man.stage_path("links")
        mentions_union = spark.read.parquet(mentions_path)
        links_df, nodes_df = canonicalize(
            mentions_union, gazetteer, checkpoint=True
        )
        commit_write("links", links_df, "overwrite")
        commit_write("nodes", nodes_df, "overwrite")
        return man.stage_path("links")

    def t_edges() -> str:
        from ..operators.graph import materialize_edges

        links_tbl = spark.read.parquet(_dep("canon"))
        triples_union = spark.read.parquet(_dep("triples"))
        return commit_write(
            "edges", materialize_edges(triples_union, links_tbl),
            "overwrite",
        )

    TASKS = [
        ("extracted", t_extracted),
        ("mentions", t_mentions),
        ("group_entities", t_group_entities),
        ("groups", t_groups),
        ("triples", t_triples),
        ("canon", t_canon),
        ("edges", t_edges),
    ]
    # cleanup releases the delta's cached blocks deterministically — a
    # long-lived driver running periodic appends must not rely on GC +
    # ContextCleaner to free executor storage.  state.values() is
    # evaluated lazily inside _run_stage_dag's finally, AFTER the
    # producers have registered their DataFrames.
    return _run_stage_dag(
        spark, TASKS, stage_concurrency, futs, man,
        cleanup=state.values(),
    )


def refresh_gazetteer(
    spark: SparkSession,
    gazetteer: DataFrame,
    gazetteer_fp: dict,
    out_dir: str,
) -> Dict[str, str]:
    """Re-link an existing KG build against a NEW gazetteer by
    recomputing ONLY the global stages (links + nodes from the
    committed mentions table, then edges from triples × links) —
    never the corpus.  The gazetteer is the small dimension table of
    this pipeline; it changes on its own cadence (new aliases, new
    canonical entities), and without this operation a refreshed
    gazetteer forces ``build_kg`` to re-extract the full corpus for a
    change that only shapes the linking family (STAGE_IDENTITY_KEYS:
    only links/nodes/edges carry the gazetteer component).  At 100 TB
    the recompute reads the slim mentions/triples tables — orders of
    magnitude smaller than the corpus — and the corpus-scale stages
    are untouched, byte-for-byte.

    Works on ANY committed base: freshly built, plain-appended, or
    streamed (``build_kg(resume=True)`` covers the gazetteer-refresh
    case only for a never-appended base, because an appended base's
    union fingerprint can never match a corpus dir on disk).

    Idempotent + crash-recoverable: each global stage commits at the
    (base transcripts, new gazetteer) identity, so a re-run skips the
    stages that already landed and recomputes the rest — a crash
    between the links and nodes commits leaves exactly the
    gazetteer-only tear that :func:`kg_status` reports (and
    :func:`append_kg` refuses), and re-running the refresh with the
    same gazetteer repairs it.  A crash DURING one of the overwrite
    writes (the stage dir loses its _SUCCESS the moment
    ``mode("overwrite")`` starts) is repaired the same way: a missing
    global stage is simply recomputed, never a refusal.  Refreshing with the base's OWN
    gazetteer over a healthy base is a complete no-op (no writes, no
    manifest records).

    Refuses a base torn in its shared (transcripts/stream) identity
    or grouping params — that is a crashed APPEND, and recomputing
    links over its mixed mentions table would spread the tear; resume
    the append first.
    """
    # read-only until the preamble proves a committed base — a
    # refresh against a typo'd out_dir must refuse without leaving a
    # fresh manifest.d behind (see Manifest.ensure_dirs)
    man = Manifest(out_dir, layout_version=LAYOUT_VERSION, spark=spark,
                   create=False)
    # settle any crashed run's landed-but-uncommitted write first,
    # then any crashed compaction swap (mid-swap the stage dir is
    # absent and this preamble would refuse a state a rename repairs)
    man.reconcile_intents()
    _compaction_repairs(spark, man)
    base = man.committed()
    missing = [
        s for s in STAGES
        if not man.is_committed(s, rec=base.get(s, {}))
    ]
    # a missing GLOBAL stage is the mid-overwrite-write crash window
    # of a previous refresh (or append): this call recomputes
    # links/nodes/edges anyway, so the re-run is the repair
    missing_fatal = [s for s in missing if s not in GLOBAL_STAGES]
    if missing_fatal:
        raise ValueError(
            "refresh_gazetteer needs the corpus stages committed; "
            "missing stages: %s" % ", ".join(missing_fatal)
        )
    man.ensure_dirs()
    present = [s for s in STAGES if s not in missing]
    if any(base[s].get("source_fp") is None for s in present):
        raise ValueError(
            "refresh_gazetteer needs a base build with recorded "
            "source fingerprints (rebuild once with this version)"
        )
    fp_of = {s: base[s]["source_fp"] for s in present}
    # tolerate ONLY gazetteer-component tears (a crashed earlier
    # refresh — exactly what a re-run repairs; they can only occur on
    # the global stages, the only gazetteer-dependent ones); any
    # shared-identity or params tear is a crashed append and must be
    # resumed as one first.  Same predicate as append/kg_status
    # (_stage_tears) — the tools must never contradict each other.
    fatal_tears = sorted(
        s for s, comps in _stage_tears(fp_of).items()
        if set(comps) - {"gazetteer"}
    )
    if fatal_tears:
        raise ValueError(
            "refresh_gazetteer: base stages disagree on source "
            "identity (%s) — a previous append crashed mid-run; "
            "resume it (re-run the crashed append) or rebuild with "
            "build_kg before refreshing the gazetteer"
            % ", ".join(fatal_tears)
        )
    ex_fp = fp_of["extracted"]
    base_params = fp_of["group_entities"].get("params")

    # target identity: the base's corpus lineage + the NEW gazetteer
    union_fp = {
        "transcripts": ex_fp["transcripts"],
        "gazetteer": gazetteer_fp,
        "params": base_params,
    }
    for k in ("stream_batch_id", "stream_id"):
        if k in ex_fp:
            union_fp[k] = ex_fp[k]

    def _done(stage: str) -> bool:
        return man.is_committed(
            stage,
            source_fp=_stage_identity(stage, union_fp),
            rec=base.get(stage, {}),
        )

    # the recompute itself IS the crash-repair recompute — one shared
    # implementation (links+nodes share one canonicalize, edges after
    # links), just under the refresh identity and input prefix
    _rebuild_global_stages(
        spark, man, gazetteer, union_fp,
        [s for s in GLOBAL_STAGES if not _done(s)],
        input_prefix="refresh:",
    )
    return {s: man.stage_path(s) for s in STAGES}
