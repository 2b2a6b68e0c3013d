"""The benchmark workloads: seeded inputs, one job, the oracle check, and
the per-layer ledger of a traced run.

A layer is a package module. Untraced jobs call the package exactly as its
tools do. Traced jobs run the same calls with spans around them; package
functions that the composing modules call by name are wrapped for the
duration of a traced job. Data work happens at the sinks, so the upstream
layers' share of the first sink is measured with cumulative noop-sink
prefixes (scan, + turn assembly, + extraction): a layer's self time is its
prefix minus the previous prefix, and is moved from the sink's span to the
layer.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from knowledge_graph_integration_rag_biomedical_qna_spark.core.patterns import (
    PREDICATE_LEXICON,
    AliasIndex,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.core.vectorized import (
    extract_unified_batches,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.operators import extraction, linking
from knowledge_graph_integration_rag_biomedical_qna_spark.operators.turn_assembly import (
    assemble_turns,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.oracle.pipeline import oracle_turns
from knowledge_graph_integration_rag_biomedical_qna_spark.plans import checkpoint, pipeline, query
from knowledge_graph_integration_rag_biomedical_qna_spark.sources import io, synth
from knowledge_graph_integration_rag_biomedical_qna_spark.streaming import ingest

from . import inputs, oracle
from .ledger import self_times, subtree

WATERMARK_ALL = "36500 days"  # wider than any input's event-time span


def median(xs):
    return statistics.median(xs) if xs else 0.0


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn, reps: int) -> float:
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return median(out)


def passthrough(df):
    """The extraction boundary with a null kernel: Arrow batches cross into
    the Python worker and straight back."""
    return df.select("conv_id", "turn_idx", "text").mapInArrow(
        lambda batches: batches, "conv_id string, turn_idx int, text string")


def kernel_us_per_turn(turns, keys: AliasIndex, reps: int = 3) -> float:
    """The extraction kernel called in-process on the workload's turns."""
    conv = pa.array(list(turns["conv_id"]), pa.string())
    turn = pa.array([int(t) for t in turns["turn_idx"]], pa.int32())
    text = pa.array(list(turns["text"]), pa.string())
    sec = timed(lambda: [len(rb) for rb in extract_unified_batches(conv, turn, text, keys)], reps)
    return sec / max(len(turns), 1) * 1e6


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def plan_totals(spans: list[dict]) -> tuple[float, int]:
    """Plan build in the Python client: self time and py4j round trips of spans that
    only build plans (their non-plan children, e.g. a dictionary ship, are
    excluded)."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    sec = calls = 0
    for s in spans:
        if s.get("plan"):
            ch = kids.get(s["id"], [])
            sec += s["end"] - s["start"] - sum(c["end"] - c["start"] for c in ch)
            calls += s["py4j"] - sum(c["py4j"] for c in ch)
    return sec, calls


def build_and_write(spark, tr, in_dir: str, read_aliases, out: str) -> None:
    """`build_kg` over the transcripts in `in_dir`; the three tables are
    written to parquet under `out`."""
    with tr.span("sources.read"):
        transcripts = io.read_transcripts(spark, in_dir)
    with tr.span("sources.dictionary"):
        aliases = read_aliases()
    with tr.span("pipeline.build_kg") as rec:
        if rec is not None:
            rec["plan"] = True
        kg = pipeline.build_kg(spark, transcripts, aliases)
    for name, sink, df in (("kg_edges", "linking.write_edges", kg.kg_edges),
                           ("kg_nodes", "canonicalize.write_nodes", kg.kg_nodes),
                           ("kg_edge_stats", "canonicalize.write_edge_stats", kg.kg_edge_stats)):
        with tr.span(sink):
            df.write.mode("overwrite").parquet(os.path.join(out, name))
    with tr.span("pipeline.unpersist"):
        kg.unpersist()


class Workload:
    """Subclasses set `name`, `item` and implement the hooks below."""

    name = ""
    item = ""
    files = 16
    warmups = 1

    def __init__(self, seed: int, work: str, scale: float):
        self.seed, self.work, self.scale = seed, work, scale
        self.in_dir = os.path.join(work, "input")
        self.alias_path = os.path.join(work, "aliases.parquet")
        self.items = 0
        # checked jobs outside the timed loop (set-up commits, traced extras)
        self.extra_attempted = self.extra_failed = 0

    # -- hooks ---------------------------------------------------------------
    def make_inputs(self) -> None:
        raise NotImplementedError

    def warm(self, spark, tr, out: str) -> None:
        """The untimed set-up job."""
        self.job(spark, tr, out)

    def expect(self) -> None:
        """Compute the oracle (outside set-up)."""
        raise NotImplementedError

    def job(self, spark, tr, out: str):
        raise NotImplementedError

    def check(self, out: str, result, tamper=None) -> dict:
        """Mismatching rows per output table (all zero when correct)."""
        raise NotImplementedError

    def wrap(self, tr) -> None:
        """Install the spans a traced job records inside the package."""

    def ledger(self, spark, tr, jobs: list[dict]) -> dict:
        """Per-layer metrics from the traced jobs plus prefix and count jobs."""
        raise NotImplementedError

    # -- shared pieces ---------------------------------------------------------
    def _wrap_plans(self, tr, module, names: dict) -> None:
        for attr, span in names.items():
            tr.wrap(module, attr, span, plan=True)

    def _prefixes(self, spark, tr, chains: list, keys, reps: int) -> dict:
        """Cumulative noop-sink prefixes over each chain input (one per
        checkpoint group, one for a batch job), summed over chains."""
        tot = {"scan": 0.0, "assemble": 0.0, "transfer": 0.0, "extract": 0.0,
               "ta_jobs": 0, "ta_tasks": 0}
        collapsed = self.collapsed
        tr.job = "prefix"
        for src in chains:
            turns = assemble_turns(src)
            ext = (extraction.extract_collapsed_df if collapsed else extraction.extract_all_df)(
                turns, keys)
            tot["scan"] += timed(lambda: noop(src), reps)
            with tr.span("turn_assembly.prefix") as rec:
                tot["assemble"] += timed(lambda: noop(turns), reps)
            j, t = tr.jobs_tasks(rec)
            tot["ta_jobs"] += j // reps
            tot["ta_tasks"] += t // reps
            tot["transfer"] += timed(lambda: noop(passthrough(turns)), reps)
            tot["extract"] += timed(lambda: noop(ext), reps)
        tr.job = None
        return tot

    def _chain_counts(self, spark, src, aliases, keys) -> dict:
        """Rows through the chain, from count jobs over persisted stages, and
        the resolve step timed over the cached inputs."""
        turns = assemble_turns(src).persist()
        ext = (extraction.extract_collapsed_df if self.collapsed else extraction.extract_all_df)(
            turns, keys).persist()
        if self.collapsed:
            surfaces = extraction.mention_stats_view(ext).select("alias_key", "surface")
        else:
            surfaces = extraction.mentions_view(ext).select("alias_key", "surface").distinct()
        surfaces = surfaces.persist()
        resolution = linking.resolution_table(linking.candidate_table(surfaces, aliases)).persist()
        raw = extraction.triples_view(ext)
        edges = linking.resolve_triples(raw, resolution)
        out = {"turns": turns.count(), "unified": ext.count(), "surfaces": surfaces.count(),
               "accepted": resolution.count(), "raw": raw.count(), "edges": edges.count()}
        out["resolve_s"] = timed(lambda: noop(edges), 2)
        for df in (turns, ext, surfaces, resolution):
            df.unpersist()
        return out

    def _layer_metrics(self, tr, jobs: list[dict], pre: dict, counts: dict) -> dict:
        """Self times per layer for each traced job, with the prefix split of
        the first sink; medians over traced jobs."""
        per_job = []
        for j in jobs:
            spans = tr.job_spans(j["id"])
            st = self_times(spans)
            st["sources"] = st.get("sources", 0.0) + pre["scan"]
            st["turn_assembly"] = st.get("turn_assembly", 0.0) + pre["assemble"] - pre["scan"]
            st["extraction"] = st.get("extraction", 0.0) + pre["extract"] - pre["assemble"]
            st["linking"] = st.get("linking", 0.0) - pre["extract"]
            plan_s, plan_calls = plan_totals(spans)
            n_jobs = sum(tr.jobs_tasks(s)[0] for s in spans)
            by = {}
            for s in spans:
                by.setdefault(s["name"], []).append(s["end"] - s["start"])
            per_job.append({"st": st, "plan_s": plan_s, "plan_calls": plan_calls,
                            "jobs": n_jobs, "by": {k: sum(v) for k, v in by.items()},
                            "wall": j["wall"]})

        def med(fn):
            return median([fn(p) for p in per_job])

        def span_s(name):
            return med(lambda p: p["by"].get(name, 0.0))

        m = {
            "sources.scan_s": pre["scan"],
            "turn_assembly.self_s": med(lambda p: p["st"].get("turn_assembly", 0.0)),
            "turn_assembly.rows_out": counts.get("turns", 0),
            "turn_assembly.jobs": pre["ta_jobs"],
            "turn_assembly.tasks": pre["ta_tasks"],
            "extraction.self_s": med(lambda p: p["st"].get("extraction", 0.0)),
            "extraction.transfer_s": pre["transfer"] - pre["assemble"],
            "extraction.rows_out": counts.get("unified", 0),
            "pipeline.plan_build_s": med(lambda p: p["plan_s"]),
            "pipeline.plan_py4j_calls": med(lambda p: p["plan_calls"]),
            "pipeline.dict_ship_s": span_s("pipeline.dict_ship"),
            "pipeline.jobs": med(lambda p: p["jobs"]),
            "linking.self_s": med(lambda p: p["st"].get("linking", 0.0)),
            "linking.surfaces_scored": counts.get("surfaces", 0),
            "linking.accept_ratio": counts["accepted"] / counts["surfaces"]
            if counts.get("surfaces") else 0.0,
            "linking.resolve_s": counts.get("resolve_s", 0.0),
            "linking.edges_dropped": counts.get("raw", 0) - counts.get("edges", 0),
            "canonicalize.nodes_s": span_s("canonicalize.write_nodes")
            + span_s("canonicalize.write_node_partials"),
            "canonicalize.edge_stats_s": span_s("canonicalize.write_edge_stats"),
            "checkpoint.self_s": med(lambda p: p["st"].get("checkpoint", 0.0)),
            "trace.job_s": med(lambda p: p["wall"]),
        }
        m["_attributed_s"] = med(lambda p: sum(p["st"].values()))
        return m


class ConstructX5(Workload):
    """Batch `build_kg` over the documents-derived transcripts x5."""

    name = "construct_x5"
    item = "turns"
    files = 64
    # the cold job (class loading, worker start, JIT compiling) runs on the
    # x1 input, which costs less than on x5; the first x5 job still compiles
    # plans of its own, so it is the second warm-up
    warmups = 2
    collapsed = True  # build_kg's default extraction shape
    reps = 5

    def make_inputs(self) -> None:
        self.base = inputs.doc_transcripts(self.seed, max(int(5000 * self.scale), 10))
        big = inputs.replicate(self.base, self.reps, salt=f"s{self.seed}")
        inputs.write_files(big, self.in_dir, self.files, self.seed)
        self.cold_dir = os.path.join(self.work, "input-x1")
        inputs.write_files(self.base, self.cold_dir, self.files, self.seed)
        self.aliases = inputs.synth_alias_pdf()
        self.items = len(big)
        self.warmed = False

    def warm(self, spark, tr, out: str) -> None:
        src = self.in_dir if self.warmed else self.cold_dir
        build_and_write(spark, tr, src, lambda: synth.synth_aliases(spark), out)
        self.warmed = True

    def expect(self) -> None:
        self.exp = oracle.expected_kg(self.base, self.aliases).scaled(self.reps)

    def job(self, spark, tr, out: str):
        build_and_write(spark, tr, self.in_dir, lambda: synth.synth_aliases(spark), out)

    def check(self, out: str, result, tamper=None) -> dict:
        edges = oracle.read_table(os.path.join(out, "kg_edges"))
        if tamper is not None:
            edges = tamper(edges)
        return oracle.check_kg(self.exp, edges,
                               oracle.read_table(os.path.join(out, "kg_nodes")),
                               oracle.read_table(os.path.join(out, "kg_edge_stats")),
                               conv_map=inputs.base_conv)

    def wrap(self, tr) -> None:
        tr.wrap(pipeline, "broadcast_alias_keys", "pipeline.dict_ship")
        self._wrap_plans(tr, pipeline, {
            "assemble_turns": "turn_assembly.assemble_turns",
            "triples_view": "extraction.triples_view",
            "candidate_table": "linking.candidate_table",
            "resolution_table": "linking.resolution_table",
            "resolve_triples": "linking.resolve_triples",
            "canonicalize_node_stats": "canonicalize.node_stats",
            "aggregate_edges": "canonicalize.aggregate_edges",
        })
        # imported inside build_kg at call time
        self._wrap_plans(tr, extraction, {
            "extract_collapsed_df": "extraction.extract_collapsed_df",
            "mention_stats_view": "extraction.mention_stats_view",
        })

    def ledger(self, spark, tr, jobs: list[dict]) -> dict:
        src = io.read_transcripts(spark, self.in_dir)
        aliases = synth.synth_aliases(spark)
        keys = pipeline.broadcast_alias_keys(spark, aliases)
        pre = self._prefixes(spark, tr, [src], keys, reps=2)
        counts = self._chain_counts(spark, src, aliases, keys)
        m = self._layer_metrics(tr, jobs, pre, counts)
        m["canonicalize.edge_groups"] = len(self.exp.stats)
        m["extraction.kernel_us_per_turn"] = kernel_us_per_turn(
            oracle_turns(self.base), AliasIndex(frozenset(self.aliases["alias_key"])))
        # the streaming layer runs on no gated workload: one stream job over
        # the fixture input, checked against its oracle
        fixture = DeployedCkpt(self.seed, os.path.join(self.work, "fixture"), self.scale)
        fixture.make_inputs()
        fixture.expect()
        m.update(fixture.stream(spark))
        self.extra_attempted += fixture.extra_attempted
        self.extra_failed += fixture.extra_failed
        return m


FIXTURE_CONCEPTS = 3000
N_QUESTIONS, ASK_K = 16, 10


class DeployedCkpt(Workload):
    """`ResumableKGRun.run` + `finalize()` with the `run_kg.py` defaults,
    on the `fixtures.gen` input. Not a gated workload of its own (set-up
    and one job cost a run's whole time budget): the traced `ask_batch` run
    records this job's ledger, and the traced `construct_x5` run streams
    the same input."""

    name = "deployed_ckpt"
    item = "turns"
    collapsed = False  # the checkpoint runner extracts with extract_all_df
    buckets, group_size = 32, 8
    n_conv = 1000

    def make_inputs(self) -> None:
        self.aliases, self.transcripts = inputs.fixture_tables(
            self.seed, max(int(FIXTURE_CONCEPTS * self.scale), 60),
            max(int(self.n_conv * self.scale), 20))
        inputs.write_files(self.transcripts, self.in_dir, self.files, self.seed)
        inputs.write_aliases(self.aliases, self.alias_path)
        self.items = len(self.transcripts)

    def expect(self) -> None:
        self.exp = oracle.expected_kg(self.transcripts, self.aliases)

    def job(self, spark, tr, out: str):
        with tr.span("sources.read"):
            transcripts = io.read_transcripts(spark, self.in_dir)
        with tr.span("sources.dictionary"):
            aliases = io.read_aliases(spark, self.alias_path)
        run = checkpoint.ResumableKGRun(spark, out, self.buckets, self.group_size)
        with tr.span("checkpoint.run"):
            run.run(transcripts, aliases)
        with tr.span("checkpoint.finalize"):
            run.finalize()

    def check(self, out: str, result=None, tamper=None) -> dict:
        edges = oracle.read_table(os.path.join(out, "kg_edges"))
        if tamper is not None:
            edges = tamper(edges)
        # finalize() counts n_convs with approx_count_distinct: reported, not failed
        return oracle.check_kg(self.exp, edges,
                               oracle.read_table(os.path.join(out, "kg_nodes")),
                               oracle.read_table(os.path.join(out, "kg_edge_stats")),
                               check_n_convs=False)

    SINKS = {"kg_edges": "linking.write_edges",
             "node_partials": "canonicalize.write_node_partials",
             "lineage": "checkpoint.write_lineage",
             "kg_nodes": "canonicalize.write_nodes",
             "kg_edge_stats": "canonicalize.write_edge_stats"}

    def wrap(self, tr) -> None:
        tr.wrap(checkpoint, "broadcast_alias_keys", "pipeline.dict_ship")
        self._wrap_plans(tr, checkpoint, {
            "assemble_turns": "turn_assembly.assemble_turns",
            "extract_all_df": "extraction.extract_all_df",
            "mentions_view": "extraction.mentions_view",
            "triples_view": "extraction.triples_view",
            "candidate_table": "linking.candidate_table",
            "resolution_table": "linking.resolution_table",
            "resolve_triples": "linking.resolve_triples",
            "resolve_mentions": "linking.resolve_mentions",
        })
        tr.wrap(DataFrameWriter, "parquet", lambda writer, path, *a, **k: self.SINKS.get(
            os.path.basename(path.rstrip("/")), "checkpoint.write"))

    def _groups(self, src):
        bucketed = src.withColumn("bucket", checkpoint.bucket_of("conv_id", self.buckets))
        ids = list(range(self.buckets))
        return [bucketed.filter(F.col("bucket").isin(ids[i:i + self.group_size]))
                for i in range(0, self.buckets, self.group_size)]

    def probes(self, spark, tr) -> tuple:
        """The prefix and count jobs: they need no deployed output."""
        src = io.read_transcripts(spark, self.in_dir)
        aliases = io.read_aliases(spark, self.alias_path)
        keys = pipeline.broadcast_alias_keys(spark, aliases)
        pre = self._prefixes(spark, tr, self._groups(src), keys, reps=1)
        return pre, self._chain_counts(spark, src, aliases, keys)

    def ledger(self, spark, tr, jobs: list[dict], probes: tuple) -> dict:
        m = self._layer_metrics(tr, jobs, *probes)
        m["canonicalize.edge_groups"] = len(self.exp.stats)
        m["extraction.kernel_us_per_turn"] = kernel_us_per_turn(
            oracle_turns(self.transcripts), AliasIndex(frozenset(self.aliases["alias_key"])))

        walls, jpg = [], []
        for j in jobs:
            done = os.path.join(j["out"], "_done")
            for f in sorted(os.listdir(done)):
                with open(os.path.join(done, f)) as fh:
                    walls.append(json.load(fh)["wall_sec"])
            run = [s for s in tr.job_spans(j["id"]) if s["name"] == "checkpoint.run"][0]
            n_groups = len(os.listdir(done))
            jpg.append(sum(tr.jobs_tasks(s)[0] for s in subtree(tr.spans, run)) / n_groups)
        m["checkpoint.group_s"] = median(walls)
        m["checkpoint.groups"] = len(walls) // max(len(jobs), 1)
        m["checkpoint.finalize_s"] = median([
            s["end"] - s["start"] for j in jobs for s in tr.job_spans(j["id"])
            if s["name"] == "checkpoint.finalize"])
        m["checkpoint.bytes_written"] = median([dir_bytes(j["out"]) for j in jobs])
        m["checkpoint.jobs_per_group"] = median(jpg)
        return m

    def stream(self, spark) -> dict:
        """One `start_kg_stream` job over the same input (availableNow, four
        files per micro-batch): the streaming layer's numbers, checked
        against the same oracle."""
        aliases = io.read_aliases(spark, self.alias_path)
        keys = pipeline.broadcast_alias_keys(spark, aliases)
        out = os.path.join(self.work, "stream")
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        q = ingest.start_kg_stream(spark, self.in_dir, out, aliases, keys,
                                   watermark=WATERMARK_ALL)
        q.awaitTermination()
        wall = time.perf_counter() - t0
        prog = [p for p in q.recentProgress if p["numInputRows"] > 0]
        bad = oracle.check_edges(self.exp, oracle.read_table(os.path.join(out, "kg_edges_stream")))
        self.extra_attempted += 1
        self.extra_failed += int(bad > 0)
        return {
            "streaming.job_s": wall,
            "streaming.batch_s": median([p["batchDuration"] / 1000 for p in prog]),
            "streaming.add_batch_s": median([p["durationMs"]["addBatch"] / 1000 for p in prog]),
            "streaming.batches": len(prog),
            "streaming.rows_per_batch": median([p["numInputRows"] for p in prog]),
        }


def make_questions(aliases, seed: int, n: int) -> list:
    """`n` seeded questions naming dictionary aliases and predicates."""
    rng = np.random.default_rng(seed + 2)
    names = aliases["alias"].tolist()
    preds = sorted(PREDICATE_LEXICON)

    def pick(xs):
        return xs[int(rng.integers(0, len(xs)))]

    forms = (lambda: f"what does {pick(names)} {pick(preds)}?",
             lambda: f"does {pick(names)} {pick(preds)} {pick(names)}?",
             lambda: f"tell me about {pick(names)}.")
    return [forms[i % 3]() for i in range(n)]


def ask(spark, tr, alias_path: str, es_dir: str, questions: list, k: int):
    """`tools/kg_query.py ask`: link the questions, rank 1-hop evidence."""
    with tr.span("sources.dictionary"):
        aliases = io.read_aliases(spark, alias_path)
    with tr.span("sources.read"):
        edge_stats = spark.read.parquet(es_dir)
    with tr.span("query.questions"):
        qs = spark.createDataFrame(list(enumerate(questions)), "question_id int, text string")
    with tr.span("pipeline.dict_ship"):
        keys = pipeline.broadcast_alias_keys(spark, aliases)
    with tr.span("query.link"):
        links = query.link_questions(spark, qs, aliases, keys)
    with tr.span("query.retrieve"):
        with tr.span("query.plan_retrieve") as rec:
            if rec is not None:
                rec["plan"] = True
            ranked = query.retrieve_evidence(links, edge_stats, k=k)
        return [r.asDict() for r in ranked.orderBy("question_id", "rank").collect()]


class AskBatch(Workload):
    """Question batches over the fixture KG, as `tools/kg_query.py ask`
    answers them. Set-up commits the KG with a batch `build_kg` job: the
    deployed job commits the same tables, but cold it takes 30-75 s on a
    4-vCPU host, more than a run can spend on set-up."""

    name = "ask_batch"
    item = "questions"
    warmups = 1  # the commit and a first ask: later asks already run at a steady pace

    def __init__(self, seed: int, work: str, scale: float):
        super().__init__(seed, work, scale)
        self.deployed = DeployedCkpt(seed, work, scale)
        self.kg = os.path.join(work, "kg")
        self.es_dir = os.path.join(self.kg, "kg_edge_stats")
        self.committed = False

    def make_inputs(self) -> None:
        self.deployed.make_inputs()
        self.questions = make_questions(self.deployed.aliases, self.seed, N_QUESTIONS)
        self.items = len(self.questions)

    def warm(self, spark, tr, out: str) -> None:
        if not self.committed:
            shutil.rmtree(self.kg, ignore_errors=True)
            build_and_write(spark, tr, self.deployed.in_dir,
                            lambda: io.read_aliases(spark, self.alias_path), self.kg)
            self.committed = True
        self.job(spark, tr, out)

    def expect(self) -> None:
        self.deployed.expect()
        diff = self.deployed.check(self.kg)
        self.extra_attempted += 1
        self.extra_failed += int(any(diff.values()))  # build_kg counts n_convs exactly
        self.want = oracle.expected_answers(self.questions, self.deployed.aliases,
                                            oracle.read_table(self.es_dir), ASK_K)

    def job(self, spark, tr, out: str):
        return ask(spark, tr, self.alias_path, self.es_dir, self.questions, ASK_K)

    def check(self, out: str, result, tamper=None) -> dict:
        return {"answers": oracle.check_answers(self.want, result[1:] if tamper else result)}

    def wrap(self, tr) -> None:
        self._wrap_plans(tr, query, {
            "detect_mentions_df": "extraction.detect_mentions_df",
            "candidate_table": "linking.candidate_table",
            "resolution_table": "linking.resolution_table",
        })

    def ledger(self, spark, tr, jobs: list[dict]) -> dict:
        """query.* and trace.* describe the asks; the construction layers,
        pipeline.* and checkpoint.* describe one traced deployed job over the
        same input, which is where those layers run in this workload.

        That job runs once, after the prefix jobs have warmed the operators
        it shares with them: a warm untraced and traced pair of it does not
        fit a run's time limit, so `checkpoint.job_s` is the traced wall and
        `checkpoint.unattributed_frac` the share of it outside every span."""
        per = []
        for j in jobs:
            spans = tr.job_spans(j["id"])
            by = {s["name"]: s["end"] - s["start"] for s in spans}
            per.append((by["query.link"], by["query.retrieve"],
                        sum(tr.jobs_tasks(s)[0] for s in spans), plan_totals(spans)[1],
                        j["wall"], sum(self_times(spans).values())))

        probes = self.deployed.probes(spark, tr)
        out = os.path.join(self.work, "kg-traced")
        shutil.rmtree(out, ignore_errors=True)
        tr.job = "deployed"
        self.deployed.wrap(tr)
        t0 = time.perf_counter()
        self.deployed.job(spark, tr, out)
        wall = time.perf_counter() - t0
        tr.unwrap_all()
        tr.job = None
        diff = self.deployed.check(out)
        self.extra_attempted += 1
        self.extra_failed += int(any(v for k, v in diff.items() if k != "n_convs"))
        m = self.deployed.ledger(spark, tr, [{"id": "deployed", "wall": wall, "out": out}], probes)
        m["checkpoint.job_s"] = wall
        m["checkpoint.unattributed_frac"] = 1 - m.pop("_attributed_s") / wall
        m["checkpoint.n_convs_mismatch"] = diff["n_convs"]
        for k, col in (("query.link_s", 0), ("query.retrieve_s", 1), ("query.jobs_per_ask", 2),
                       ("query.plan_py4j_calls", 3), ("trace.job_s", 4), ("_attributed_s", 5)):
            m[k] = median([p[col] for p in per])
        return m


WORKLOADS = {w.name: w for w in (ConstructX5, AskBatch)}
