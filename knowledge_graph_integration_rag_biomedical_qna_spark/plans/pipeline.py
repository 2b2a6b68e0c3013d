"""The KG-construction plan: transcripts -> kg_nodes + kg_edges.

Shuffle budget of the whole plan (the thing that decides 100 TB viability):

  1 shuffle   stage [1] window over (conv_id, turn_idx)          [data-sized]
  0 shuffles  stages [2]-[3] mapInArrow (inherit partitioning)
  1 shuffle   mention_stats groupBy(alias_key, surface)          [count payload;
              map-side combine absorbs hot-entity skew -> vocab-sized output,
              whose n_mentions rides through linking to canonicalization]
  0 shuffles  resolution joins (the resolved vocabulary is broadcast)
  0-1 tiny    stage [6] groupBy(cui) over the resolved vocabulary [<= |vocab| rows;
              0 on a persisted build, whose vocabulary is one partition]
  1 shuffle   edge-stats groupBy (counter payload, map-side combine)

Only the extraction is cached. Under AQE each reference to an unfilled cache
runs its own cache-stage job and an exchange above a cached scan is never
reused, so a persisted build collects the resolved vocabulary instead and
serves it as one partition: the kg_edges write broadcasts it once and reuses
that exchange for the second endpoint, and kg_nodes groups it without an
exchange. Build plus the three writes: 11 Spark jobs on the construct_x5
benchmark.

Everything transcript-sized shuffles at most once; after the mention_stats
aggregate no transcript-sized table is read twice. `build_kg` is the only
composition of stages [1]-[6]: the checkpointed runner (plans.checkpoint)
calls it once per bucket group and the streaming ingest (streaming.ingest)
once per micro-batch; the run modes differ only in their sinks.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession

from ..operators.canonicalize import aggregate_edges, canonicalize_node_stats
from ..operators.extraction import extract_all_df, mentions_view, triples_view
from ..operators.linking import candidate_table, resolution_table, resolve_triples
from ..operators.turn_assembly import assemble_turns


@dataclass
class KGResult:
    turns: DataFrame
    unified: DataFrame       # collapsed single-pass extraction (triples + mention stats)
    raw_triples: DataFrame
    candidates: DataFrame
    resolution: DataFrame
    kg_edges: DataFrame      # evidence-level CUI-resolved triples (provenance kept)
    kg_edge_stats: DataFrame  # deduplicated graph edges with counters
    kg_nodes: DataFrame
    mention_stats: DataFrame | None = None  # vocab-sized (alias_key, surface, n)
    # per-occurrence mentions: a thunk resolved on first access (the plan is
    # never constructed unless a consumer actually reads token spans — plan
    # construction itself costs driver time, see build_kg docstring)
    _mentions_fn: object | None = None

    @cached_property
    def mentions(self) -> DataFrame:
        return self._mentions_fn()

    def unpersist(self) -> None:
        self.unified.unpersist()


class _ClosureBroadcast:
    """Broadcast stand-in for SparkContext-less environments (Spark Connect):
    the value rides each task closure instead of the broadcast bus. Same
    `.value` interface."""

    __slots__ = ("value", "digest")

    def __init__(self, value):
        self.value = value


# per-python-worker cache for file-backed dictionaries: (path, mtime) -> index
_FILE_INDEX_CACHE: dict = {}


class FileBackedAliasIndex:
    """Escape hatch for dictionaries too large to route through the driver:
    the dictionary's four columns are written to a parquet side-file by
    Spark executors (never collected), and each PYTHON WORKER lazily builds
    the AliasIndex, keys and candidates, from that file on first `.value`
    access, caching it per (path, mtime). Pickles as just the path, so task
    closures stay tiny. Same `.value` interface as a broadcast."""

    __slots__ = ("path",)

    def __init__(self, path: str):
        self.path = path

    @property
    def digest(self) -> str:
        """The dictionary's content digest: the spill directory's name."""
        import os

        return os.path.basename(self.path.rstrip(os.sep))

    @property
    def value(self):
        import os

        from ..core.patterns import AliasIndex

        key = (self.path, os.stat(self.path).st_mtime_ns)
        hit = _FILE_INDEX_CACHE.get(key)
        if hit is None:
            import pyarrow.parquet as pq

            # path may be a single file or a multi-part parquet directory
            # (pyarrow reads both); parts are read in one dataset scan
            cols = [c.to_pylist() for c in pq.read_table(self.path, columns=_SHIPPED).columns]
            hit = AliasIndex(frozenset(cols[0]), candidates=cols)
            _FILE_INDEX_CACHE.clear()
            _FILE_INDEX_CACHE[key] = hit
        return hit


# above this many distinct keys, stop collecting the dictionary to the driver
MAX_BROADCAST_KEYS = 20_000_000
# the dictionary columns the index ships: matcher keys plus link candidates
_SHIPPED = ["alias_key", "alias", "cui", "prior"]


def _ship_index(spark: SparkSession, rows):
    """Broadcast an AliasIndex over already-collected dictionary rows
    (`_SHIPPED` columns). The handle's `digest` is a sha256 over the sorted
    rows, computed here from the rows the driver already holds."""
    import hashlib

    from ..core.patterns import AliasIndex

    rows = [tuple(r) for r in rows]
    cols = tuple(zip(*rows)) or ((),) * len(_SHIPPED)
    idx = AliasIndex(frozenset(cols[0]), candidates=cols)
    try:
        handle = spark.sparkContext.broadcast(idx)
    except Exception:  # Spark Connect: no SparkContext on the client
        handle = _ClosureBroadcast(idx)
    handle.digest = "sha256-" + hashlib.sha256(
        "\n".join(sorted(map(repr, rows))).encode()
    ).hexdigest()
    return handle


def broadcast_alias_keys(
    spark: SparkSession,
    aliases: DataFrame,
    max_broadcast_keys: int = MAX_BROADCAST_KEYS,
    spill_dir: str | None = None,
):
    """Ship the alias dictionary to executors once as an AliasIndex: the
    first-token index the matcher probes (two sets per token instead of
    joining n-grams) and the (alias_key, alias, cui, prior) rows that
    `candidate_table` looks candidates up in, so linking reads no dictionary
    table of its own. Rows with a null alias_key link nothing and are
    dropped.

    Cost: the broadcast carries three more columns per alias than a
    keys-only index, an estimated ~100 pickled bytes per alias, so about
    1.6 GB at UMLS scale (~16M aliases), broadcast once per job. No
    dictionary of that size has been run, so the regime is unmeasured. Beyond `max_broadcast_keys`
    distinct keys the driver never materializes the dictionary: its rows are
    spilled to a parquet side-file (executor-written) and workers build the
    index themselves (FileBackedAliasIndex). On a real cluster pass
    `spill_dir` on SHARED storage (HDFS/S3 fuse mount); the default tempdir
    is correct only for local mode.

    The returned handle's `digest` names the dictionary's content (a resume
    compares it, plans.checkpoint); computing it starts no Spark job."""
    proj = aliases.select(*_SHIPPED).where("alias_key IS NOT NULL")
    # LocalRelation fast path (r6): a dictionary built from driver-resident
    # literals (VALUES / parallelized local data the optimizer folded) never
    # needs the cluster — collect() executes driver-side with zero Spark
    # jobs, where the probe below costs at least one. The rows already live
    # in driver memory, so collecting them is not a new driver-size risk.
    # Classic-only probe; any failure falls through to the job-based probe.
    try:
        opt = proj._jdf.queryExecution().optimizedPlan()
        is_local = opt.getClass().getSimpleName() == "LocalRelation"
    except Exception:  # Spark Connect or plan-access change
        is_local = False
    if is_local:
        return _ship_index(spark, proj.collect())

    # size probe: one task reads at most 1M+1 RAW rows, so a dictionary of
    # up to 1M rows (~tens of MB — harmless), the overwhelmingly common case,
    # is detected and fetched in one Spark job. Only when the probe
    # overflows does a distributed distinct count of alias_key decide
    # broadcast-vs-spill, so the driver never receives
    # max_broadcast_keys(=20M) rows just to notice there are too many of
    # them (r2 advice). Cost: a dictionary of more than 1M rows but at most
    # max_broadcast_keys distinct keys overflows the raw probe and takes
    # the probe, the distinct count and a collect of every row.
    probe_cap = min(max_broadcast_keys, 1_000_000)
    probe = proj.coalesce(1).limit(probe_cap + 1).collect()
    if len(probe) <= probe_cap:
        return _ship_index(spark, probe)
    n_keys = proj.select("alias_key").distinct().count()
    if n_keys > max_broadcast_keys:
        import os
        import tempfile

        from pyspark.sql import functions as F

        base = spill_dir or os.path.join(tempfile.gettempdir(), "kg_alias_spill")
        os.makedirs(base, exist_ok=True)
        # content-addressed spill dir: (row count, order-insensitive digest
        # of all four columns) — rerunning with the same dictionary reuses
        # the existing spill, and a changed prior or cui gets a new one
        # bit_xor: order-insensitive and can't overflow (ANSI mode)
        n_rows, digest = proj.agg(
            F.count(F.lit(1)), F.expr(f"bit_xor(xxhash64({', '.join(_SHIPPED)}))")
        ).first()
        out_dir = os.path.join(base, f"aliases-{n_rows}-{(digest or 0) & (1 << 64) - 1:016x}")
        if not os.path.exists(os.path.join(out_dir, "_SUCCESS")):
            # multi-part write (no coalesce(1) single-task funnel); the
            # reader scans the directory as one dataset
            proj.write.mode("overwrite").parquet(out_dir)
        return FileBackedAliasIndex(out_dir)
    return _ship_index(spark, proj.collect())


def build_kg(
    spark: SparkSession,
    transcripts: DataFrame,
    aliases: DataFrame,
    persist: bool = True,
    assume_clustered: bool = False,
    alias_index=None,
) -> KGResult:
    """Compose stages [1]-[6] — the one composition every run mode calls
    (batch, the checkpointed runner per bucket group, streaming per
    micro-batch).

    The extraction pass emits triple rows plus per-occurrence mention rows
    already collapsed to per-task partial (alias_key, surface, n) stats
    (extract_collapsed_df): the mentions are only ever re-read as the
    vocab-sized aggregate, so the collapse removes most of the Arrow->JVM
    transfer, the cache build and the mention-stats shuffle. `.mentions`
    stays per-occurrence via a LAZY uncached second extraction pass —
    consumers of token spans pay for that pass only if they read it (tests
    and tools do; the nodes+edges product never does).

    `persist=True` caches the collapsed extraction output, the one
    transcript-sized table both branches read (Catalyst has no cross-branch
    CSE), and before returning collects the resolution table inside the JVM
    and serves it as a one-partition LocalRelation: no row crosses into
    Python, both endpoint joins share one broadcast, each broadcast build is
    a single task and kg_nodes groups by cui without an exchange. Driver
    bound: the rows a broadcast of the resolution collects anyway, plus one
    bigint column; `spark.driver.maxResultSize` applies as before. At
    cluster width the one partition has a cost: the broadcast build
    serializes all the resolved rows in one task. Callers release the
    cache with `KGResult.unpersist()`. For jobs too large to cache at once,
    plans.checkpoint.ResumableKGRun calls this per bucket group and commits
    each group to storage. `persist=False` stays lazy: nothing is cached or
    collected.

    `assume_clustered=True` declares the input already bucketed by conv_id
    (sources.io.write_bucketed): stage [1] skips its repartition and the
    whole pipeline runs with ZERO data-sized exchanges (plan-tested in
    tests/test_bucketing.py) — the right storage layout at 100 TB, where
    one bucketed write amortizes the shuffle across every downstream job.

    `alias_index`: a prebuilt broadcast_alias_keys() result. It carries the
    matcher's keys and the link candidates, so linking reads no dictionary
    table: `aliases` only types the candidate columns. A long-lived
    deployment ships the dictionary once, not once per job — steady-state
    callers (bench, the checkpointed and streaming runs, repeated builds
    against one dictionary) hoist it; the default builds it here.

    Driver-side plan-construction cost (r6): one warm lazy build_kg call is
    ~470 py4j round-trips / ~0.45 s with a hoisted alias_index (~0.9 s cold
    incl. the dictionary probe+broadcast; persist=True adds the vocabulary
    collect) — down from ~3,100 / 0.75-1.3 s before the selectExpr rewrites
    of synth/assembly/linking/views. Amortize it by reusing the plan (bench.py).
    """
    from ..operators.extraction import extract_collapsed_df, mention_stats_view

    turns = assemble_turns(transcripts, assume_clustered=assume_clustered)
    keys_bc = alias_index if alias_index is not None else broadcast_alias_keys(spark, aliases)
    # one Arrow pass over the turn text produces BOTH the triples and the
    # mention stats; the persisted unified table is the stage boundary both
    # branches reuse
    unified = extract_collapsed_df(turns, keys_bc)
    if persist:
        unified = unified.persist()
    raw_triples = triples_view(unified)
    # vocab-sized already: sum the per-task partials. n_mentions rides
    # through linking, so the resolution feeds both edges and nodes.
    mention_stats = mention_stats_view(unified)

    from ..session import default_parallelism

    default_par = default_parallelism(spark)
    candidates = candidate_table(
        mention_stats, aliases, score_partitions=default_par // 16 or 1, alias_index=keys_bc
    )
    resolution = resolution_table(candidates)
    if persist:
        # the rows stay in the JVM: collected there, served as a LocalRelation
        # in one partition (a LocalTableScan spreads over min(rows,
        # parallelism) partitions, which kg_nodes would shuffle back together)
        jdf = resolution._jdf
        resolution = DataFrame(
            spark._jsparkSession.createDataFrame(jdf.collectAsList(), jdf.schema()), spark
        ).coalesce(1)

    kg_edges = resolve_triples(raw_triples, resolution)
    kg_nodes = canonicalize_node_stats(resolution)
    kg_edge_stats = aggregate_edges(kg_edges)
    return KGResult(
        turns=turns,
        unified=unified,
        # per-occurrence view: a LAZY uncached second extraction pass, built
        # only if a consumer reads .mentions (plan construction deferred too)
        _mentions_fn=lambda: mentions_view(extract_all_df(turns, keys_bc)),
        raw_triples=raw_triples,
        candidates=candidates,
        resolution=resolution,
        kg_edges=kg_edges,
        kg_edge_stats=kg_edge_stats,
        kg_nodes=kg_nodes,
        mention_stats=mention_stats,
    )
