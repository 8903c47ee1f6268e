"""The benchmark workloads.

Each workload owns a working directory inside the repository tree. `prepare`
writes the seeded inputs (set-up time); `oracle` computes the expected
outputs (untimed); `reset` restores the committed state a run starts
from (untimed); `run` is one timed closed-loop iteration and returns its
wall time, one unbroken interval from the first call into the package to
the committed output; `verify` reads the committed output back and
scores it against the oracle (untimed); `trace_pass` is the traced run's
layer-by-layer pass.
"""

from __future__ import annotations

import os
import shutil
import time
from urllib.parse import quote

import pyarrow as pa

from pyspark.sql import functions as F

from mel_tnnt_spark.operators import components, graph_query, lineage, linking, mentions, metadata, summaries, triples
from mel_tnnt_spark.pipeline import run_pipeline
from mel_tnnt_spark.session import local_dim

from kgbench import gen, oracle

TRIPLE_COLS = ("subj", "pred", "obj")
N_SOURCE_FILES = 16  # parquet data files of the source table


def dir_size(path: str) -> tuple[int, int]:
    """(data files, bytes) under `path`, ignoring Spark's marker files."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def _replace_tree(src: str, dst: str) -> None:
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)


class Check:
    """Outcome of one verification."""

    def __init__(self):
        self.ok = True
        self.precision = 1.0
        self.recall = 1.0
        self.notes: list[str] = []

    def fail(self, note: str, precision: float = 1.0, recall: float = 1.0) -> None:
        self.ok = False
        self.notes.append(note)
        self.precision = min(self.precision, precision)
        self.recall = min(self.recall, recall)


def _compare(check: Check, name: str, df, cols, gold_rows: list | set, gold_fp, got_fp=None) -> int:
    """Fingerprint-compare `df` (or its precomputed `got_fp`) against the
    oracle rows; on a mismatch collect it and score precision/recall.
    Returns the row count."""
    got_fp = got_fp or oracle.spark_fingerprint(df, cols)
    if got_fp != gold_fp:
        got = {tuple(r) for r in df.select(*cols).collect()}
        p, r = oracle.precision_recall(got, set(gold_rows))
        check.fail(f"{name}: {got_fp[0]} rows vs {gold_fp[0]} expected (P={p:.4f}, R={r:.4f})", p, r)
    return got_fp[0]


class Workload:
    name = ""

    def __init__(self, spark, tracer, work: str, seed: int, size: int):
        self.spark, self.tr, self.work, self.seed, self.size = spark, tracer, work, seed, size

    def triples_per_run(self, rows_out: int) -> int:
        """Triples one run commits (builds) or reads (queries)."""
        return rows_out


class KGWorkload(Workload):
    """Shared set-up of the two KG-build workloads."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        work = self.work
        self.base_src = os.path.join(work, "src_base")
        self.delta_src = os.path.join(work, "src_delta")
        self.lineage = os.path.join(work, "lineage")
        self.out = os.path.join(work, "triples")

    def prepare(self) -> None:
        self.base_rows, self.delta_rows = gen.code_files(self.seed, self.size)
        gen.write_parquet(self.base_rows, gen.CODE_SCHEMA, self.base_src, N_SOURCE_FILES)
        gen.write_parquet(self.delta_rows, gen.CODE_SCHEMA, self.delta_src, 1)

    # the job sequence of main.py; each call is one span of the pipeline layer
    def _build(self, paths: list[str], batch_id: str, full: bool, count_quarantine: bool) -> float:
        tr = self.tr
        t0 = time.perf_counter()
        before = tr.sample()
        with tr.span("pipeline", "build") as s:
            res = run_pipeline(self.spark, self.spark.read.parquet(*paths), lineage_path=self.lineage)
        s.values["retained_storage_mb"] = (tr.sample() - before) / 1e6
        with tr.span("pipeline", "write"):
            triples.write_triples(res.triples, self.out, batch_id=batch_id, full=full)
        tr.sample()
        with tr.span("pipeline", "record"):
            lineage.record_done(res.metadata, self.lineage, "kg", batch_id)
        if count_quarantine:
            tr.sample()
            with tr.span("pipeline", "quarantine"):
                self.n_quarantined = res.quarantined.count()
        return time.perf_counter() - t0

    def _verify_build(self, check: Check, batch_id: str, gold: set, gold_fp, n_lineage: int) -> int:
        written = self.spark.read.parquet(self.out)
        n = _compare(check, batch_id, written.where(F.col("batch_id") == batch_id), TRIPLE_COLS, gold, gold_fp)
        n_lin = self.spark.read.parquet(self.lineage).select("doc_id", "content_sha").distinct().count()
        if n_lin != n_lineage:
            check.fail(f"lineage: {n_lin} docs recorded vs {n_lineage} expected")
        return n

    # ---- traced layer-by-layer pass ----
    def layered(self, paths: list[str], batch_id: str, full: bool) -> float:
        """Each layer's public functions on the previous layer's
        materialized output, one span per layer visit. Returns the
        pass's wall time."""
        spark, tr = self.spark, self.tr
        t0 = time.perf_counter()

        def pin(df):
            return df.localCheckpoint(eager=True)

        src = spark.read.parquet(*paths)
        with tr.span("lineage") as s:
            valid, quarantined = lineage.enforce_sha_invariant(src)
            valid = pin(valid)
            self.n_quarantined = quarantined.count()
            s.values.update(rows_in=src.count(), quarantined=self.n_quarantined)
            n_valid = s.values["rows_out"] = valid.count()
        with tr.span("metadata") as s:
            proc = metadata.filter_processable(metadata.with_general_metadata(valid))
            meta = pin(metadata.latest_commit_only(proc))
            docs = pin(metadata.latest_commit_keys(proc))
            n_proc, n_meta = proc.count(), meta.count()
            s.values.update(rows_in=n_valid, rows_out=n_meta, dedup_ratio=n_meta / max(1, n_proc))
        with tr.span("lineage") as s:
            done = lineage.read_lineage(spark, self.lineage)
            pending = pin(lineage.pending_only(meta, done, "kg"))
            docs = pin(lineage.pending_only(docs, done, "kg").select("doc_id", "repo"))
            n_pending = s.values["rows_out"] = pending.count()
            s.values["pending_ratio"] = n_pending / max(1, n_meta)
        with tr.span("mentions") as s:
            ments = pin(mentions.detect_mentions(pending.select("doc_id", "content"), text_col="content", preprocess=True))
            n_ments = ments.count()
            s.values.update(rows_in=n_pending, rows_out=n_ments, per_doc=n_ments / max(1, n_pending))
        with tr.span("summaries") as s:
            canon = pin(summaries.canonicalize(ments, summaries.label_classification_df(spark)))
            s.values.update(rows_in=n_ments, rows_out=canon.count())
        with tr.span("linking") as s:
            linked = linking.link_mentions(canon, linking.alias_dict_df(spark))
            linked = pin(linked.select("doc_id", "entity_id", "canonical", "linked_label"))
            n_linked = linked.count()
            s.values.update(rows_in=n_ments, rows_out=n_linked, link_rate=n_linked / max(1, n_ments))
        with tr.span("components") as s:
            dim_rows = linked.select("entity_id", "canonical", "linked_label").distinct().collect()
            ent_dim = local_dim(spark, dim_rows, "entity_id string, canonical string, linked_label string")
            ent_rows = components.canonical_entities_local([(r["entity_id"], r["canonical"]) for r in dim_rows])
            ents = local_dim(spark, ent_rows, "entity_id string, canonical_id string")
            s.values.update(rows_in=n_linked, rows_out=len(ent_rows), entities=len(ent_rows))
        with tr.span("triples") as s:
            trip = pin(triples.build_triples(docs, linked, ents, ent_dim=ent_dim))
            s.values.update(rows_in=n_linked, rows_out=trip.count())
            triples.write_triples(trip, self.out, batch_id=batch_id, full=full)
            part = self.out if full else os.path.join(self.out, f"batch_id={batch_id}")
            files, size = dir_size(part)
            s.values.update(files_written=files, bytes_written_mb=size / 1e6)
        with tr.span("lineage"):
            lineage.record_done(pending, self.lineage, "kg", batch_id)
        return time.perf_counter() - t0


class KGBuild(KGWorkload):
    """A fresh full build of the whole table."""

    name = "kg_build"

    def oracle(self) -> None:
        docs, self.quarantined = oracle.latest_docs(self.base_rows)
        self.gold = oracle.kg_triples(docs)
        self.gold_fp = oracle.fingerprint(self.gold)
        self.n_docs = len(docs)

    def reset(self) -> None:
        shutil.rmtree(self.lineage, ignore_errors=True)
        shutil.rmtree(self.out, ignore_errors=True)

    def run(self) -> float:
        return self._build([self.base_src], "batch-0", full=True, count_quarantine=True)

    def verify(self) -> tuple[Check, int]:
        check = Check()
        n = self._verify_build(check, "batch-0", self.gold, self.gold_fp, self.n_docs)
        if self.n_quarantined != self.quarantined:
            check.fail(f"quarantine: {self.n_quarantined} rows vs {self.quarantined} expected")
        return check, n

    def trace_pass(self) -> float:
        return self.layered([self.base_src], "batch-0", full=True)

    def rows_in(self) -> int:
        return len(self.base_rows)


class KGResume(KGWorkload):
    """An incremental batch over a committed base build."""

    name = "kg_resume"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.lineage_base = os.path.join(self.work, "lineage_base")
        self.out_base = os.path.join(self.work, "triples_base")

    def prepare(self) -> None:
        super().prepare()
        for d in (self.lineage, self.out):
            shutil.rmtree(d, ignore_errors=True)
        res = run_pipeline(self.spark, self.spark.read.parquet(self.base_src), lineage_path=self.lineage)
        triples.write_triples(res.triples, self.out, batch_id="batch-0", full=True)
        lineage.record_done(res.metadata, self.lineage, "kg", "batch-0")
        _replace_tree(self.lineage, self.lineage_base)
        _replace_tree(self.out, self.out_base)

    def oracle(self) -> None:
        base_docs, _ = oracle.latest_docs(self.base_rows)
        self.base_gold = oracle.kg_triples(base_docs)
        self.base_fp = oracle.fingerprint(self.base_gold)
        snapshot, _ = oracle.latest_docs(self.base_rows + self.delta_rows)
        done = {(d, v[1]) for d, v in base_docs.items()}
        pending = {d: v for d, v in snapshot.items() if (d, v[1]) not in done}
        self.gold = oracle.kg_triples(pending)
        self.gold_fp = oracle.fingerprint(self.gold)
        self.n_lineage = len(base_docs) + len(pending)

    def reset(self) -> None:
        _replace_tree(self.lineage_base, self.lineage)
        _replace_tree(self.out_base, self.out)

    def run(self) -> float:
        return self._build([self.base_src, self.delta_src], "batch-1", full=False, count_quarantine=False)

    def verify(self) -> tuple[Check, int]:
        check = Check()
        n = self._verify_build(check, "batch-1", self.gold, self.gold_fp, self.n_lineage)
        _compare(check, "batch-0", self.spark.read.parquet(self.out).where(F.col("batch_id") == "batch-0"),
                 TRIPLE_COLS, self.base_gold, self.base_fp)
        return check, n

    def trace_pass(self) -> float:
        return self.layered([self.base_src, self.delta_src], "batch-1", full=False)

    def rows_in(self) -> int:
        return len(self.base_rows) + len(self.delta_rows)


class KGQuery(Workload):
    """The KG read path: graph queries over a committed triples table."""

    name = "kg_query"
    CLOSURE_COLS = ("node", "ancestor", "depth")

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.table = os.path.join(self.work, "kg")
        self.state = os.path.join(self.work, "closure_state")
        self.state_base = os.path.join(self.work, "closure_state_base")
        self.edges = os.path.join(self.work, "edges")

    def prepare(self) -> None:
        self.triples, self.batch = gen.query_graph(self.seed, self.size)
        by_pred: dict[str, list] = {}
        for s, p, o in self.triples:
            by_pred.setdefault(p, []).append((s, o))
        shutil.rmtree(self.table, ignore_errors=True)
        schema = pa.schema([("subj", pa.string()), ("obj", pa.string())])
        for p, rows in by_pred.items():
            part = os.path.join(self.table, "batch_id=batch-0", f"pred={quote(p, safe='')}")
            gen.write_parquet(rows, schema, part, 4 if len(rows) > 1000 else 1)
        edge_schema = pa.schema([("child", pa.string()), ("parent", pa.string())])
        gen.write_parquet(self.batch, edge_schema, self.edges, 1)
        shutil.rmtree(self.state_base, ignore_errors=True)

    def oracle(self) -> None:
        self.gold = oracle.query_results(self.triples, self.batch)
        self.gold_fp = {k: oracle.fingerprint(v) for k, v in self.gold.items()}

    def reset(self) -> None:
        if os.path.isdir(self.state_base):
            _replace_tree(self.state_base, self.state)
        else:
            shutil.rmtree(self.state, ignore_errors=True)

    def _table(self):
        return self.spark.read.parquet(self.table)

    def _part_of(self):
        return self._table().where(F.col("pred") == "tnnt:partOf").select("subj", "obj")

    def _maintain(self):
        """Fold the batch of new edges into the stored closure of the
        committed hierarchy. The first (warm-up) run builds that closure
        by folding the hierarchy into an empty state, and keeps a copy
        every later run starts from."""
        if not os.path.isdir(self.state_base):
            graph_query.maintain_transitive_closure(self.spark, self.state, self._part_of(), "subj", "obj")
            shutil.copytree(self.state, self.state_base)
        batch = self.spark.read.parquet(self.edges)
        return graph_query.maintain_transitive_closure(self.spark, self.state, batch, "child", "parent")

    def run(self) -> float:
        """Each query is one span; its result is consumed by the
        fingerprint aggregate inside the span. Returns the wall time of
        the whole mix."""
        tr = self.tr
        self.got = {}
        queries = [
            ("bgp", oracle.BGP_VARS,
             lambda: graph_query.bgp_match(self._table(), oracle.BGP_PATTERNS).select(*oracle.BGP_VARS)),
            ("closure", self.CLOSURE_COLS, lambda: graph_query.transitive_closure(self._part_of(), "subj", "obj")),
            ("pagerank", ("node", "rank_micro"),
             lambda: graph_query.pagerank_micro(
                 self._table().where(F.col("pred").isin("tnnt:mentions", "tnnt:partOf")),
                 "subj", "obj", iterations=oracle.PAGERANK_ITERATIONS)),
            ("shortest_paths", ("src", "dst", "dist"),
             lambda: graph_query.shortest_paths(self._part_of(), "subj", "obj", max_hops=oracle.SHORTEST_MAX_HOPS)),
            ("maintain", self.CLOSURE_COLS, self._maintain),
        ]
        state_before = dir_size(self.state)[1]
        t0 = time.perf_counter()
        tr.sample()
        for name, cols, call in queries:
            with tr.span("graph_query", name) as s:
                df = call()
                self.got[name] = (df, cols, oracle.spark_fingerprint(df, cols))
            s.values["rows"] = self.got[name][2][0]
            tr.sample()
        wall = time.perf_counter() - t0
        s.values["maintain_written_mb"] = (dir_size(self.state)[1] - state_before) / 1e6
        return wall

    def verify(self) -> tuple[Check, int]:
        check = Check()
        n = 0
        for name, (df, cols, fp) in self.got.items():
            n += _compare(check, name, df, cols, self.gold[name], self.gold_fp[name], fp)
        state = graph_query.read_transitive_closure(self.spark, self.state)
        _compare(check, "closure state", state, self.CLOSURE_COLS, self.gold["maintain"], self.gold_fp["maintain"])
        self.got = {}
        return check, n

    def trace_pass(self) -> float:
        """The query mix is already one span per graph_query call, so
        the traced pass is a timed run; the harness adds no
        materialization here and its overhead is run-to-run noise."""
        return self.run()

    def rows_in(self) -> int:
        return len(self.triples)

    def triples_per_run(self, rows_out: int) -> int:
        return len(self.triples)


WORKLOADS = {w.name: w for w in (KGBuild, KGResume, KGQuery)}
