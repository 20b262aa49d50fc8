# -*- coding: utf-8 -*-
"""Seeded benchmark inputs and their single-node references.

Everything here runs driver-side without Spark and is cached per
(workload, seed) under ``perfbench/.cache``, so preparation stays out
of the timed calls and out of ``setup_s``.  The program under test
only ever sees the parquet files written here.

Corpus sizes are fixed by what a fresh seed costs to prepare on a
4-core host: the KG reference takes ~2 s at 240 conversations, while
the CRF reference (the single-node twin of the distributed fit) is the
expensive part, ~10 s at 120 conversations.  Preparation runs in a
child process, so its memory stays out of the driver's peak RSS.
"""
from __future__ import annotations

import os
import pickle
import shutil
from collections import Counter, defaultdict
from typing import Dict, List

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Bump when the layout or the reference semantics change: a stale cache
# is then rebuilt instead of served.
CACHE_VERSION = "2"

# Turns per workload corpus (~240 and ~120 conversations).  The corpus
# is the shortest prefix of the generated conversations that reaches
# the target, so its size does not vary with the seed.
KG_TURNS = 12800
CRF_TURNS = 6400
# The generator makes every MEGA_EVERY-th conversation 15x longer.
MEGA_EVERY = 37
# The warm-call corpus: big enough to run every code path once.
WARM_CONVS = 12
N_DELTAS = 2
# Deltas 0..N_APPEND-1 go through append_kg, the rest are file drops
# drained by the streaming ingest.
N_APPEND = 1

TRIPLE_COLS = ["conv_id", "group_id", "triple_idx", "subj", "pred", "obj",
               "subj_type", "obj_type"]
NODE_COLS = ["node_id", "entity_type", "canonical_text", "n_surfaces",
             "n_mentions"]
EDGE_COLS = ["subj_node", "pred", "obj_node", "subj", "obj", "conv_id",
             "group_id", "triple_idx"]
MENTION_COLS = ["conv_id", "turn_idx", "mention_idx", "text", "entity_type"]
KG_TABLES = {"triples": TRIPLE_COLS, "nodes": NODE_COLS, "edges": EDGE_COLS}


def corpus_turns(workload: str) -> int:
    return CRF_TURNS if workload == "crf_train_tag" else KG_TURNS


def _write_generated(d: str, n_conversations: int, seed: int,
                     target_turns: int = 0) -> None:
    """Generate a corpus; with ``target_turns`` keep only its first
    ``target_turns`` turns, in conversation order, so the last kept
    conversation may end early."""
    from webstruct_spark.sources.transcripts import (
        GAZETTEER_SCHEMA, TRANSCRIPT_SCHEMA, generate_corpus,
    )

    turns, _gold, gaz = generate_corpus(n_conversations, seed=seed,
                                        mega_every=MEGA_EVERY)
    if target_turns:
        if len(turns) < target_turns:
            raise ValueError("generated %d turns, need %d"
                             % (len(turns), target_turns))
        turns = turns[:target_turns]
    os.makedirs(d)
    pq.write_table(pa.Table.from_pylist(turns, schema=TRANSCRIPT_SCHEMA),
                   os.path.join(d, "transcripts.parquet"))
    pq.write_table(
        pa.Table.from_pylist([e.__dict__ for e in gaz],
                             schema=GAZETTEER_SCHEMA),
        os.path.join(d, "gazetteer.parquet"),
    )


def read_rows(path: str, cols: List[str]) -> Counter:
    """The rows of a parquet file or directory, as a multiset of tuples."""
    tbl = pq.read_table(path, columns=cols)
    return Counter(zip(*(tbl.column(c).to_pylist() for c in cols)))


def kg_reference(transcripts: pa.Table, gazetteer: pa.Table,
                 subsets: Dict[str, frozenset]) -> Dict[str, dict]:
    """Single-node KG over one corpus: extract_turn -> best_clustering ->
    triples, then gazetteer links and connected components for nodes and
    edges.  The same chain as ``sources.goldbuild.build_gold`` minus its
    CRF twins and side tables, which the KG does not use.

    Returns one KG per entry of ``subsets`` (name -> the conversations
    it holds, all of ``transcripts`` when empty).  Everything up to the
    triples is per conversation, so it runs once for all subsets; only
    the links and components are global."""
    from webstruct_spark.kernel.bilou import decode_mentions
    from webstruct_spark.kernel.canon import norm_text
    from webstruct_spark.kernel.grouping import (
        DEFAULT_DONT_PENALIZE, best_clustering, block_positions,
    )
    from webstruct_spark.kernel.smartjoin import smart_join
    from webstruct_spark.kernel.triples import assemble_triples_typed
    from webstruct_spark.sources.goldbuild import extract_turn

    rows = sorted(
        zip(transcripts.column("conv_id").to_pylist(),
            transcripts.column("turn_idx").to_pylist(),
            transcripts.column("text").to_pylist())
    )
    per_conv: Dict[str, list] = defaultdict(list)
    per_conv_tags: Dict[str, list] = defaultdict(list)
    conv_mentions: Dict[str, Counter] = defaultdict(Counter)
    for conv_id, turn_idx, text in rows:
        pairs = extract_turn(text)
        toks = [p[0] for p in pairs]
        tags = [p[1] for p in pairs]
        for items, etype in decode_mentions(toks, tags):
            conv_mentions[conv_id][
                (etype, norm_text(smart_join(items)))] += 1
        per_conv[conv_id].extend((t, turn_idx) for t in toks)
        per_conv_tags[conv_id].extend(tags)

    conv_triples: Dict[str, list] = {}
    for conv_id in sorted(per_conv):
        infos = per_conv[conv_id]
        elems = [turn for _tok, turn in infos]
        _thr, _score, clusters = best_clustering(
            infos, per_conv_tags[conv_id], block_positions(elems, elems),
            dont_penalize=DEFAULT_DONT_PENALIZE,
        )
        triples = conv_triples[conv_id] = []
        for gi, cluster in enumerate(clusters):
            entities = [
                (smart_join([tok for tok, _turn in item_infos]), etype)
                for item_infos, etype, _dist in cluster
            ]
            entities = [(t, e) for t, e in entities if t]
            if not entities:
                continue
            group_id = "%s:g%04d" % (conv_id, gi)
            for si, (s, p, o, st, ot) in enumerate(
                assemble_triples_typed(entities)
            ):
                triples.append((conv_id, group_id, si, s, p, o, st, ot))

    out = {}
    for name, convs in subsets.items():
        keep = sorted(c for c in per_conv if not convs or c in convs)
        mention_counts: Counter = Counter()
        for c in keep:
            mention_counts.update(conv_mentions[c])
        out[name] = _link([t for c in keep for t in conv_triples[c]],
                          mention_counts, gazetteer)
    return out


def _link(triples: list, mention_counts: Counter,
          gazetteer: pa.Table) -> Dict[str, list]:
    """Nodes and edges of one set of triples: gazetteer links, then
    connected components over the mentioned surfaces."""
    from webstruct_spark.kernel.canon import (
        connected_components, link_edges, norm_text, surface_key,
    )

    surfaces = sorted(mention_counts)
    edges_cc = link_edges(
        surfaces,
        zip(gazetteer.column("alias").to_pylist(),
            gazetteer.column("canonical_id").to_pylist(),
            gazetteer.column("entity_type").to_pylist()),
    )
    comp = connected_components(
        [surface_key(t, x) for t, x in surfaces], edges_cc
    )
    link_map = {}
    members: Dict[str, list] = defaultdict(list)
    for etype, ntext in surfaces:
        node_id = comp[surface_key(etype, ntext)]
        link_map[(etype, ntext)] = node_id
        members[node_id].append((etype, ntext))
    nodes = []
    for node_id, ms in members.items():
        ms.sort()
        nodes.append((node_id, ms[0][0], min(t for _e, t in ms), len(ms),
                      sum(mention_counts[m] for m in ms)))
    edges = []
    for conv_id, group_id, ti, s, p, o, st, ot in triples:
        sn = link_map.get((st, norm_text(s)))
        on = link_map.get((ot, norm_text(o)))
        if sn is not None and on is not None:
            edges.append((sn, p, on, s, o, conv_id, group_id, ti))
    return {"triples": triples, "nodes": nodes, "edges": edges}


def crf_reference(transcripts: pa.Table):
    """(model export, mention rows) of the single-node twin of
    ``train_crf_distributed(n_parts=8)`` predicting every turn: the
    fit and decode that produce ``gold_dist_trained_mentions``."""
    from webstruct_spark.kernel.bilou import decode_mentions
    from webstruct_spark.kernel.smartjoin import smart_join
    from webstruct_spark.operators.tagger import plain_tokens
    from webstruct_spark.operators.trained import train_crf_mixed_local

    rows = sorted(
        zip(transcripts.column("conv_id").to_pylist(),
            transcripts.column("turn_idx").to_pylist(),
            transcripts.column("text").to_pylist())
    )
    model = train_crf_mixed_local(rows, n_parts=8)
    toks_all = [plain_tokens(text) for _c, _t, text in rows]
    out = []
    for (conv_id, turn_idx, _text), toks, tags in zip(
        rows, toks_all, model.predict_batch(toks_all)
    ):
        decoded = decode_mentions(list(range(len(toks))), tags)
        for mi, (items, etype) in enumerate(decoded):
            out.append((conv_id, turn_idx, mi,
                        smart_join(toks[i] for i in items), etype))
    return model.export(), out


def _write_rows(path: str, rows: List[tuple], cols: List[str]) -> None:
    pq.write_table(
        pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)}),
        path,
    )


def _write_corpus(d: str, transcripts: pa.Table, gaz_path: str) -> None:
    os.makedirs(d)
    pq.write_table(transcripts, os.path.join(d, "transcripts.parquet"))
    shutil.copy(gaz_path, os.path.join(d, "gazetteer.parquet"))


class Inputs:
    """Paths of one prepared (workload, seed) input set.

    Layout under ``root``: ``corpus/`` (full corpus), ``warm/`` (the
    warm-call corpus), ``base/`` (corpus minus the deltas),
    ``delta-<i>/`` (one 1 % slice each), and the references: for the KG
    workload ``ref_<base|full>_<table>.parquet``, for the CRF workload
    ``ref_crf_mentions.parquet`` and ``ref_crf_model.pkl``."""

    def __init__(self, root: str):
        self.root = root
        self.corpus = os.path.join(root, "corpus")
        self.warm = os.path.join(root, "warm")
        self.base = os.path.join(root, "base")
        self.deltas = [os.path.join(root, "delta-%d" % i)
                       for i in range(N_DELTAS)]
        self.gazetteer = os.path.join(self.corpus, "gazetteer.parquet")
        self._refs: Dict[tuple, Counter] = {}
        conv_ids = pq.read_table(
            os.path.join(self.corpus, "transcripts.parquet"),
            columns=["conv_id"],
        ).column(0)
        self.turns = len(conv_ids)
        self.conversations = len(pc.unique(conv_ids))
        self.delta_turns = [
            pq.read_metadata(os.path.join(d, "transcripts.parquet")).num_rows
            for d in self.deltas
        ]

    def ref(self, which: str, table: str, cols: List[str]) -> Counter:
        """Rows of one reference table (read once per run)."""
        key = (which, table)
        if key not in self._refs:
            self._refs[key] = read_rows(os.path.join(
                self.root, "ref_%s_%s.parquet" % (which, table)), cols)
        return self._refs[key]

    def crf_model_export(self):
        with open(os.path.join(self.root, "ref_crf_model.pkl"), "rb") as f:
            return pickle.load(f)


def cache_root(cache_dir: str, workload: str, seed: int) -> str:
    return os.path.join(cache_dir, "%s-seed%d" % (workload, seed))


def prepare(cache_dir: str, workload: str, seed: int) -> Inputs:
    """Generate (or reuse) the inputs and references for one seed."""
    root = cache_root(cache_dir, workload, seed)
    stamp = "version=%s turns=%d seed=%d\n" % (
        CACHE_VERSION, corpus_turns(workload), seed)
    done = os.path.join(root, "_DONE")
    if os.path.exists(done):
        with open(done) as f:
            if f.read() == stamp:
                return Inputs(root)
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    corpus = os.path.join(tmp, "corpus")
    # ~55 turns per conversation on average, mega ones included, so
    # this count overshoots the target by ~20 %
    _write_generated(corpus, corpus_turns(workload) // 45, seed,
                     corpus_turns(workload))
    # an unrelated seed for the warm corpus keeps it disjoint in content
    _write_generated(os.path.join(tmp, "warm"), WARM_CONVS, seed + 7919)
    gaz_path = os.path.join(corpus, "gazetteer.parquet")
    full = pq.read_table(os.path.join(corpus, "transcripts.parquet"))
    gaz = pq.read_table(gaz_path)

    convs = sorted(set(full.column("conv_id").to_pylist()))
    k = max(1, len(convs) // 100)
    # the deltas are the last ordinary conversations, so every delta has
    # the same expected size
    tail = [c for i, c in enumerate(convs) if i % MEGA_EVERY][-N_DELTAS * k:]
    base = full.filter(pc.invert(pc.is_in(full.column("conv_id"),
                                          pa.array(tail))))
    _write_corpus(os.path.join(tmp, "base"), base, gaz_path)
    for i in range(N_DELTAS):
        ids = tail[i * k: (i + 1) * k]
        _write_corpus(
            os.path.join(tmp, "delta-%d" % i),
            full.filter(pc.is_in(full.column("conv_id"), pa.array(ids))),
            gaz_path,
        )

    if workload == "kg_incremental":
        refs = kg_reference(full, gaz, {
            "base": frozenset(base.column("conv_id").to_pylist()),
            "full": frozenset(),
        })
        for which, ref in refs.items():
            for table, cols in KG_TABLES.items():
                _write_rows(os.path.join(
                    tmp, "ref_%s_%s.parquet" % (which, table)),
                    ref[table], cols)
    else:
        export, mentions = crf_reference(full)
        _write_rows(os.path.join(tmp, "ref_crf_mentions.parquet"), mentions,
                    MENTION_COLS)
        with open(os.path.join(tmp, "ref_crf_model.pkl"), "wb") as f:
            pickle.dump(export, f, protocol=4)

    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write(stamp)
    shutil.rmtree(root, ignore_errors=True)
    os.rename(tmp, root)
    return Inputs(root)


if __name__ == "__main__":
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    prepare(sys.argv[1], sys.argv[2], int(sys.argv[3]))
