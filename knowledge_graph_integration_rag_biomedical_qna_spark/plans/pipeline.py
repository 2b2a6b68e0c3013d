"""The KG-construction plan: transcripts -> kg_nodes + kg_edges.

Shuffle budget of the whole plan (the thing that decides 100 TB viability):

  1 shuffle   stage [1] window over (conv_id, turn_idx)          [data-sized]
  0 shuffles  stages [2]-[5] mapInArrow: extraction, the per-task mention
              collapse and linking in one pass (inherit partitioning)
  1 shuffle   stage [6] kg_nodes groupBy(cui) over the linked per-task
              vocabulary rows                                    [vocab-sized]
  1 shuffle   stage [6] kg_edge_stats groupBy(subj_cui, pred, obj_cui),
              counters only, map-side combined   [edge groups x tasks rows]

Only the extraction is cached, and nothing is collected to the driver: each
task links its own surfaces against the dictionary the matcher's index
ships, so kg_edges is a filter of the cached pass (no join, no broadcast)
and kg_nodes one vocabulary-sized exchange above it. kg_edge_stats counts
n_convs from the pass's per-conversation `conv_first` flag, so no
exchange is keyed by (edge, conv_id). Build plus the three writes: 7 Spark
jobs on the construct_x5 benchmark.

Everything transcript-sized shuffles at most once and is read once, from
the cached extraction. `build_kg` is the only composition of stages
[1]-[6]: the checkpointed runner (plans.checkpoint) calls it once per
bucket group and the streaming ingest (streaming.ingest) once per
micro-batch; the run modes differ only in their sinks.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import cached_property

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

from ..operators.canonicalize import aggregate_edges  # noqa: F401 -- importable here for perfbench
from ..operators.canonicalize import aggregate_flagged_edges, canonicalize_node_stats
from ..operators.extraction import extract_all_df, mentions_view, triples_view
from ..operators.linking import candidate_table, resolution_table
from ..operators.linking import resolve_triples  # noqa: F401 -- importable here for perfbench
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
        return os.path.basename(self.path.rstrip(os.sep))

    @property
    def value(self):
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
    handle = spark.sparkContext.broadcast(idx)
    handle.digest = "sha256-" + hashlib.sha256(
        "\n".join(sorted(map(repr, rows))).encode()
    ).hexdigest()
    return handle


def _files_identity(proj: DataFrame):
    """The sorted (path, length, modification time) of every file the
    projection reads, or None unless every leaf of its plan is a file
    relation. Reads the listing the DataFrame already holds: no Spark job."""
    leaves = proj._jdf.queryExecution().analyzed().collectLeaves()
    files = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            return None
        rel = leaf.relation()
        if rel.getClass().getSimpleName() != "HadoopFsRelation":
            return None
        try:
            listed = rel.location().allFiles()
        except Py4JError:  # a file index that keeps no listing (CatalogFileIndex)
            return None
        for j in range(listed.size()):
            st = listed.apply(j)
            files.append((st.getPath().toString(), st.getLen(), st.getModificationTime()))
    return tuple(sorted(files))


# the last file-backed dictionary shipped in this process, as (identity,
# shipped projection, handle): one entry, as each Python worker keeps one
# built index (_PA_VOCAB_CACHE, _FILE_INDEX_CACHE)
_LAST_SHIP: list = [None]


def broadcast_alias_keys(
    spark: SparkSession,
    aliases: DataFrame,
    max_broadcast_keys: int = MAX_BROADCAST_KEYS,
    spill_dir: str | None = None,
):
    """Ship the alias dictionary to executors once as an AliasIndex: the
    first-token index the matcher probes (two sets per token instead of
    joining n-grams) and the (alias_key, alias, cui, prior) rows that the
    extraction and question passes and `candidate_table` look candidates up
    in, so linking reads no dictionary table of its own. Rows with a null
    alias_key link nothing and are dropped.

    Cost: the broadcast carries three more columns per alias than a
    keys-only index, an estimated ~100 pickled bytes per alias, so about
    1.6 GB at UMLS scale (~16M aliases), broadcast once per job, or once
    per session for a long-lived caller (memo below). No dictionary of
    that size has been run, so the regime is unmeasured.
    Beyond `max_broadcast_keys` distinct keys the dictionary is not
    broadcast: its rows are spilled to a parquet side-file
    (executor-written) and workers build the index themselves
    (FileBackedAliasIndex). Only a dictionary already held by the driver (a
    LocalRelation) is collected before the count decides. On a real cluster
    pass `spill_dir` on SHARED storage (HDFS/S3 fuse mount); the default
    tempdir is correct only for local mode.

    Memo: the last file-backed dictionary shipped is kept with its handle,
    for the long-lived caller that re-reads its dictionary per request so
    that a rewrite is picked up (`tools/kg_query.py serve`). A repeat ship
    of the unchanged dictionary in the same SparkContext starts no Spark
    job, builds and broadcasts nothing, and the Python workers keep the
    index they built from it. Its identity, computed without a Spark job:
    the SparkContext's applicationId and start time, the shipped
    projection's semanticHash (confirmed by sameSemantics, so a `withColumn`
    makes another dictionary), the sorted (path, length, modification time)
    of the files listed when the DataFrame was created, `max_broadcast_keys`
    and `spill_dir`. Shipping another dictionary replaces the entry. A plan
    with any other leaf is not memoized (a LocalRelation ships with no job
    anyway). A same-path rewrite that keeps every file's length and
    modification time is not seen, as with Spark's own file-listing cache.
    The handle is shared by every caller in the session: do not destroy it.
    A one-shot caller (build_kg, ResumableKGRun.run, `kg_query ask`) ships
    once and gains nothing from it.

    The returned handle's `digest` names the dictionary's content (a resume
    compares it, plans.checkpoint); computing it starts no Spark job."""
    proj = aliases.select(*_SHIPPED).where("alias_key IS NOT NULL")
    # LocalRelation fast path (r6): a dictionary built from driver-resident
    # literals (VALUES / parallelized local data the optimizer folded) never
    # needs the cluster — collect() executes driver-side with zero Spark
    # jobs, where the probe below costs at least one. The rows already live
    # in driver memory, so collecting them is not a new driver-size risk;
    # past max_broadcast_keys distinct keys they spill like any dictionary.
    opt = proj._jdf.queryExecution().optimizedPlan()
    if opt.getClass().getSimpleName() == "LocalRelation":
        rows = proj.collect()
        if len({r[0] for r in rows}) > max_broadcast_keys:
            return _spill_index(proj, spill_dir)
        return _ship_index(spark, rows)

    files = _files_identity(proj)
    if files is None:
        return _probe_and_ship(spark, proj, max_broadcast_keys, spill_dir)
    sc = spark.sparkContext
    key = (sc.applicationId, sc.startTime, proj.semanticHash(), files,
           max_broadcast_keys, spill_dir)
    last = _LAST_SHIP[0]
    if last is not None and last[0] == key and proj.sameSemantics(last[1]) and (
        # a spill whose directory is gone ships again
        not isinstance(last[2], FileBackedAliasIndex)
        or os.path.exists(os.path.join(last[2].path, "_SUCCESS"))
    ):
        return last[2]
    handle = _probe_and_ship(spark, proj, max_broadcast_keys, spill_dir)
    _LAST_SHIP[0] = (key, proj, handle)
    return handle


def _probe_and_ship(spark: SparkSession, proj: DataFrame, max_broadcast_keys: int,
                    spill_dir: str | None):
    """Broadcast (or spill) a dictionary the driver does not hold."""
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
    if proj.select("alias_key").distinct().count() > max_broadcast_keys:
        return _spill_index(proj, spill_dir)
    return _ship_index(spark, proj.collect())


def _spill_index(proj: DataFrame, spill_dir: str | None) -> FileBackedAliasIndex:
    """Write the `_SHIPPED` dictionary rows to a content-addressed parquet
    directory under `spill_dir` (executor-written) and return its index."""
    import tempfile

    from pyspark.sql import functions as F

    base = spill_dir or os.path.join(tempfile.gettempdir(), "kg_alias_spill")
    os.makedirs(base, exist_ok=True)
    # content-addressed spill dir: (row count, order-insensitive digest of
    # all four columns) — rerunning with the same dictionary reuses the
    # existing spill, and a changed prior or cui gets a new one
    # bit_xor: order-insensitive and can't overflow (ANSI mode)
    n_rows, digest = proj.agg(
        F.count(F.lit(1)), F.expr(f"bit_xor(xxhash64({', '.join(_SHIPPED)}))")
    ).first()
    out_dir = os.path.join(base, f"aliases-{n_rows}-{(digest or 0) & (1 << 64) - 1:016x}")
    if not os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        # multi-part write (no coalesce(1) single-task funnel); the reader
        # scans the directory as one dataset
        proj.write.mode("overwrite").parquet(out_dir)
    return FileBackedAliasIndex(out_dir)


# kg_edges: the triple rows of the linked pass whose two endpoints linked
EDGE_RULE = "kind = 't' AND subj_cui IS NOT NULL AND obj_cui IS NOT NULL"
# kg_nodes: the per-task mention-stats rows of the linked pass that linked
NODE_RULE = "kind = 's' AND cui IS NOT NULL"


def kg_edges_of(unified: DataFrame) -> DataFrame:
    """Evidence-level kg_edges: the `EDGE_RULE` rows, provenance kept."""
    return unified.filter(EDGE_RULE).select(
        "conv_id", "turn_idx", "subj_cui", "pred", "obj_cui",
        "subj_surface", "obj_surface", "confidence",
    )


def kg_nodes_of(unified: DataFrame) -> DataFrame:
    """kg_nodes: the `NODE_RULE` rows' partial counts grouped by cui."""
    return canonicalize_node_stats(
        unified.filter(NODE_RULE).selectExpr("cui", "surface", "mention_idx AS n_mentions")
    )


def kg_edge_stats_of(unified: DataFrame) -> DataFrame:
    """kg_edge_stats: the `EDGE_RULE` rows grouped by edge (n_convs exact)."""
    return aggregate_flagged_edges(unified.filter(EDGE_RULE))


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
    transfer, the cache build and the kg_nodes shuffle. `.mentions`
    stays per-occurrence via a LAZY uncached second extraction pass —
    consumers of token spans pay for that pass only if they read it (tests
    and tools do; the nodes+edges product never does).

    Linking rides that pass too: each task resolves its own distinct
    (alias_key, surface) pairs against the candidates `alias_index` ships,
    so kg_edges keeps the triples whose two endpoints linked (a filter, no
    join), kg_nodes groups the linked per-task stats by cui, and
    kg_edge_stats groups the linked triples by edge, with the exact n_convs
    counted from the pass's `conv_first` flags (extract_collapsed_df). Building
    the result starts no Spark job when `alias_index` is given. The driver
    never receives the resolved vocabulary, so `spark.driver.maxResultSize`
    does not bound a build. `candidates`, `resolution` and `mention_stats`
    are lazy specification views over the same pass (tools and tests read
    them); no write runs them.

    `persist=True` caches the collapsed extraction output, the one
    transcript-sized table every write reads (Catalyst has no cross-branch
    CSE); nothing else is cached or collected. Callers release the cache
    with `KGResult.unpersist()`. `persist=False` stays lazy: nothing is
    cached. The checkpointed and streamed runs build that way, because
    each commits its pass in one write that reads it once.

    `assume_clustered=True` declares the input already bucketed by conv_id
    (sources.io.write_bucketed): stage [1] skips its repartition and the
    whole pipeline runs with ZERO data-sized exchanges (plan-tested in
    tests/test_bucketing.py) — the right storage layout at 100 TB, where
    one bucketed write amortizes the shuffle across every downstream job.

    `alias_index`: a prebuilt broadcast_alias_keys() result. It carries the
    matcher's keys and the link candidates, so linking reads no dictionary
    table: `aliases` only types the cui (and prior) columns. Steady-state
    callers (bench, the checkpointed and streaming runs) hoist it; the
    default ships it here, and a repeat build against the unchanged
    file-backed dictionary last shipped gets its handle again
    (broadcast_alias_keys), so it starts no Spark job for it.

    Driver-side plan-construction cost: one warm lazy build_kg call with a
    hoisted alias_index is 274 py4j round-trips; their median of 15 took
    0.08-0.39 s (n_conv=200 fixture, local[4] on a shared 4-vCPU host,
    which moves it that much between runs), paid once per checkpoint group
    — down from ~3,100 round-trips before the selectExpr rewrites.
    Amortize it by reusing the plan (bench.py).
    """
    from ..operators.extraction import extract_collapsed_df, mention_stats_view

    turns = assemble_turns(transcripts, assume_clustered=assume_clustered)
    keys_bc = alias_index if alias_index is not None else broadcast_alias_keys(spark, aliases)
    # one Arrow pass over the turn text produces the linked triples and the
    # linked mention stats; the persisted unified table is the stage
    # boundary every write reads
    unified = extract_collapsed_df(turns, keys_bc, aliases.schema["cui"].dataType)
    if persist:
        unified = unified.persist()
    raw_triples = triples_view(unified)
    mention_stats = mention_stats_view(unified)
    candidates = candidate_table(mention_stats, aliases, alias_index=keys_bc)
    resolution = resolution_table(candidates)

    return KGResult(
        turns=turns,
        unified=unified,
        # per-occurrence view: a LAZY uncached second extraction pass, built
        # only if a consumer reads .mentions (plan construction deferred too)
        _mentions_fn=lambda: mentions_view(extract_all_df(turns, keys_bc)),
        raw_triples=raw_triples,
        candidates=candidates,
        resolution=resolution,
        kg_edges=kg_edges_of(unified),
        kg_edge_stats=kg_edge_stats_of(unified),
        kg_nodes=kg_nodes_of(unified),
        mention_stats=mention_stats,
    )
