"""The benchmark's workloads.

Each workload generates its seeded inputs (``prepare``), runs one complete
pass from input to checked output (``run``, traced or not), and computes
the oracle checksum of its inputs in DuckDB (``oracle``). ``run`` returns
the fast checksum of every output; with ``canonical=True`` it also returns
the canonical checksum of the oracle-covered columns, computed in the same
job, so the fast checksum of a run that matched the oracle can be used to
check every later run.
"""

from __future__ import annotations

import os
import re

import duckdb
from pyspark.sql import functions as F

from . import checksum, inputs
from .trace import MB, storage_mb


def duck_connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # DuckDB's round(DOUBLE, k) computes round(x * 10^k) / 10^k, which
    # misrounds a value one ulp below a tie: round(3.8499999999999996, 1)
    # is 3.9 there, 3.8 in Python and in Spark. Spark rounds the double's
    # shortest decimal form HALF_UP; this macro does the same.
    con.execute(
        "CREATE MACRO bench_round(x, k) AS "
        "CAST(round(CAST(CAST(x AS VARCHAR) AS DECIMAL(38, 17)), k) AS DOUBLE)"
    )
    return con


def oracle_sql(query: str, sf_dir: str) -> str:
    """The registry oracle of ``query``, prepared for :func:`duck_connect`:
    rounding through ``bench_round``, and every CTE materialized instead
    of inlined (same result; inlining the web-funnel oracle's unrolled
    PageRank chain takes DuckDB about a minute to plan)."""
    from vlm_data_pipeline_spark.plans import QUERIES
    from vlm_data_pipeline_spark.plans.registry import resolve_oracle

    sql = resolve_oracle(QUERIES[query], sf_dir)
    sql = re.sub(r"\bround\(", "bench_round(", sql, flags=re.IGNORECASE)
    return re.sub(r"\b(\w+)\s+AS\s+\(", r"\1 AS MATERIALIZED (", sql)


class IngestLabelWrite:
    """read JSON records → build codebook → apply codebook → parquet
    snapshot → all QA generators over the snapshot → QA JSON sink."""

    name = "ingest_label_write"
    n_orders = 1500
    n_parts = 200

    def prepare(self, seed: int, work: str) -> None:
        from vlm_data_pipeline_spark.enrich.codebook import LABEL_VOCAB

        self.raw = os.path.join(work, "raw")
        self.snap = os.path.join(work, "snapshot")
        self.out = os.path.join(work, "qa")
        part, li = inputs.star_tables(seed, self.n_orders, self.n_parts)
        inputs.write_frame_records(part, li, self.raw)
        self.o_part, self.o_li, self.counts = inputs.oracle_tables(part, li, LABEL_VOCAB)
        self.rows = self.counts["frames"]

    def run(self, spark, tr, canonical: bool = False) -> dict:
        from vlm_data_pipeline_spark.enrich import apply_codebook, build_codebook
        from vlm_data_pipeline_spark.qa import runner
        from vlm_data_pipeline_spark.sources import json_frames

        frames, _ = tr.stage("sources.read_frames", lambda: json_frames.read_frames(spark, self.raw))
        codebook, _ = tr.stage("enrich.build_codebook", lambda: build_codebook(frames))
        labeled, _ = tr.stage("enrich.apply_codebook", lambda: apply_codebook(frames, codebook))
        with tr.span("sources.write_frames"):
            tr.action(lambda: json_frames.write_frames(labeled, self.snap))
        snapshot = spark.read.parquet(self.snap)
        with tr.span("qa.runner.generate_all") as g:
            before_mb = storage_mb(spark) if tr.enabled else 0.0

            def fill_cache():
                # fill the input cache generate_all registered ahead of
                # the task spans, so no task is charged for it
                tr.action(snapshot.count)
                g.attrs["cached_mb"] = storage_mb(spark) - before_mb

            tasks = [
                (runner.TASKS, t, f"qa.{'tasks3d' if t in runner.TASKS_3D else 'tasks2d'}.{t}")
                for t in runner.TASKS
            ]
            with tr.staged(tasks, before=fill_cache):
                all_qa = runner.generate_all(snapshot)
        with tr.span("qa.runner.write_qa_outputs"):
            tr.action(lambda: runner.write_qa_outputs(all_qa, self.out))
        if tr.enabled:
            self._count(spark, tr, frames, labeled, snapshot)
        with tr.span("bench.check"):
            lines = spark.read.text(os.path.join(self.out, "pairs"))
            aggs = checksum.fast_exprs(lines.columns)
            if canonical:
                rec = F.from_json(
                    "value",
                    "id string, question string, answer string, "
                    "answer_type string, options array<string>",
                )
                cells = [rec["id"], F.col("task"), rec["question"], rec["answer"],
                         rec["answer_type"], F.array_join(rec["options"], "|")]
                aggs += checksum.canonical_exprs(cells)
            row = tr.action(lambda: lines.agg(*aggs).first())
        out = {"qa_pairs": checksum.as_pair(row[0:2])}
        if canonical:
            out["qa_pairs.canonical"] = checksum.as_pair(row[2:4])
        return out

    def layer_metrics(self, by: dict, tr) -> dict[str, float]:
        """Per-layer metrics of one traced run, from its spans by name."""
        c = by["bench.counters"].attrs
        ood = by["qa.tasks3d.obj_obj_distance"]
        m = {
            "sources.read_frames.input_mb": by["sources.read_frames"].counters["input_b"] / MB,
            "sources.write_frames.output_mb": by["sources.write_frames"].counters["output_b"] / MB,
            "qa.runner.write_qa_outputs.output_mb": by["qa.runner.write_qa_outputs"].counters["output_b"] / MB,
            "qa.runner.cached_mb": by["qa.runner.generate_all"].attrs["cached_mb"],
            "enrich.build_codebook.classified_ratio": c["classified_ratio"],
            "enrich.apply_codebook.relabel_ratio": c["relabel_ratio"],
            "qa.tasks3d.obj_obj_distance.pair_yield": ood.attrs["rows"] / c["box_pairs"] if c["box_pairs"] else 0.0,
            "qa.tasks3d.obj_obj_distance.cpu_busy": tr.cpu_busy(ood),
        }
        for name, s in by.items():
            if name.startswith("qa.tasks3d."):
                m[f"{name}.rows"] = s.attrs["rows"]
        return m

    def _count(self, spark, tr, frames, labeled, snapshot) -> None:
        """Ratios for the traced run, counted in their own span."""
        from vlm_data_pipeline_spark.enrich import (
            extract_unlabeled_instances,
            representative_per_instance,
        )

        with tr.span("bench.counters") as s:
            reps = representative_per_instance(extract_unlabeled_instances(frames)).count()
            relabeled = labeled.agg(
                F.sum(F.size(F.filter("bounding_boxes_3d", lambda b: b["category"].startswith("pseudo_"))))
            ).first()[0]
            n = F.size("bounding_boxes_3d")
            pairs = snapshot.agg(F.sum(F.when(n > 1, n * (n - 1) / 2).otherwise(0))).first()[0]
            unl = self.counts["unlabeled_boxes"]
            s.attrs.update(
                classified_ratio=reps / unl if unl else 0.0,
                relabel_ratio=(relabeled or 0) / unl if unl else 0.0,
                box_pairs=float(pairs or 0),
            )

    def oracle(self) -> dict:
        con = duck_connect()
        try:
            con.register("part", self.o_part)
            con.register("lineitem", self.o_li)
            sql = oracle_sql("qa_pipeline_full_check", self.raw)
            cells = ["id", "task", "question", "answer", "answer_type", "options"]
            row = con.execute(checksum.duck_canonical(sql, cells)).fetchone()
        finally:
            con.close()
        return {"qa_pairs.canonical": checksum.as_pair(row)}


class CurationText:
    """The registry queries ``dedup_minhash_lsh`` (MinHash/LSH near-duplicate
    pairs) and ``curation_web_pipeline`` (URL dedup → TrustRank gate →
    Bloom decontamination → quality rules). A traced run splits them into
    spans around the operator calls they make."""

    name = "curation_text"
    n_docs = 2000

    def prepare(self, seed: int, work: str) -> None:
        self.dir = work
        inputs.write_parquet(inputs.documents(seed, self.n_docs), os.path.join(work, "documents.parquet"))
        self.rows = self.n_docs

    def run(self, spark, tr, canonical: bool = False) -> dict:
        from vlm_data_pipeline_spark.operators import curation, dedup, graph, sketch
        from vlm_data_pipeline_spark.plans import QUERIES

        operators = [
            (vars(dedup), "minhash_lsh_pairs", "operators.dedup.minhash_lsh_pairs"),
            (vars(graph), "pagerank", "operators.graph.pagerank"),
            (vars(sketch), "bloom_probe_join", "operators.sketch.bloom_probe_join"),
            (vars(curation), "quality_filter", "operators.curation.quality_filter"),
        ]
        with tr.staged(operators):
            with tr.span("plans.dedup_minhash_lsh"):
                pairs = QUERIES["dedup_minhash_lsh"].build(spark, self.dir)
            with tr.span("plans.curation_web_pipeline"):
                verdict = QUERIES["curation_web_pipeline"].build(spark, self.dir)
        if tr.enabled:
            with tr.span("bench.counters") as s:
                s.attrs["candidate_pairs"] = float(self._candidates(spark))
        out = {}
        with tr.span("bench.check"):
            for key, df, cells in (
                ("near_dup_pairs", pairs, [F.col("id_a").cast("string"), F.col("id_b").cast("string"),
                                           F.floor(F.col("jaccard") * 1048576).cast("string")]),
                ("web_verdicts", verdict, [F.col("doc_id").cast("string"), F.col("dropped_at")]),
            ):
                aggs = checksum.fast_exprs(df.columns)
                if canonical:
                    aggs += checksum.canonical_exprs(cells)
                row = tr.action(lambda df=df, aggs=aggs: df.agg(*aggs).first())
                out[key] = checksum.as_pair(row[0:2])
                if canonical:
                    out[key + ".canonical"] = checksum.as_pair(row[2:4])
        return out

    def layer_metrics(self, by: dict, tr) -> dict[str, float]:
        """Per-layer metrics of one traced run, from its spans by name."""
        candidates = by["bench.counters"].attrs["candidate_pairs"]
        verified = by["operators.dedup.minhash_lsh_pairs"].attrs["rows"]
        return {
            "operators.dedup.minhash_lsh_pairs.verify_ratio": verified / candidates if candidates else 0.0,
            "operators.graph.pagerank.shuffle_mb": by["operators.graph.pagerank"].counters["shuffle_write_b"] / MB,
        }

    def _candidates(self, spark) -> int:
        """Distinct LSH candidate pairs, from dedup.banded_signatures
        buckets of 2..max_bucket members."""
        from vlm_data_pipeline_spark.operators import dedup
        from vlm_data_pipeline_spark.plans import star_queries_llm as q
        from vlm_data_pipeline_spark.plans.registry import load_tables

        docs = load_tables(spark, self.dir, "documents")["documents"]
        sigs = dedup.minhash_signatures(docs, k=q._MINHASH_K)
        banded = dedup.banded_signatures(sigs, q._MINHASH_K, q._MINHASH_BANDS)
        groups = (
            banded.groupBy("band", "bucket")
            .agg(F.collect_list("doc_id").alias("m"))
            .filter((F.size("m") >= 2) & (F.size("m") <= q._MINHASH_MAX_BUCKET))
            .collect()
        )
        cand = set()
        for g in groups:
            m = sorted(g.m)
            cand.update((m[i], m[j]) for i in range(len(m)) for j in range(i + 1, len(m)))
        return len(cand)

    def oracle(self) -> dict:
        con = duck_connect()
        out = {}
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM "
                f"'{os.path.join(self.dir, 'documents.parquet')}'"
            )
            for key, query, cells in (
                ("near_dup_pairs", "dedup_minhash_lsh",
                 ["CAST(id_a AS VARCHAR)", "CAST(id_b AS VARCHAR)",
                  "CAST(CAST(floor(jaccard * 1048576) AS BIGINT) AS VARCHAR)"]),
                ("web_verdicts", "curation_web_pipeline",
                 ["CAST(doc_id AS VARCHAR)", "dropped_at"]),
            ):
                sql = checksum.duck_canonical(oracle_sql(query, self.dir), cells)
                out[key + ".canonical"] = checksum.as_pair(con.execute(sql).fetchone())
        finally:
            con.close()
        return out


WORKLOADS = {w.name: w for w in (IngestLabelWrite, CurationText)}
