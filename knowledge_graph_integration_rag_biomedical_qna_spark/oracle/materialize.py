"""Materialized oracles for queries whose semantics DuckDB cannot express.

The pandas/numpy/pure-python reference implementations here are INDEPENDENT
re-derivations of each query's semantics (same rule set, different engine and
code path — the pattern of oracle/pipeline.py, which the P/R gate already
trusts). `materialize(sf_dir, name)` writes the expected result to
`data/oracle/current/<name>.parquet`; the registered oracle SQL is then just
`SELECT * FROM read_parquet(...)`, so the driver's DuckDB gate hashes the
Spark result against an independently computed table.

Freshness contract: the registry wrapper (entry_queries._qm) refreshes the
parquet for whatever sf_dir the Spark query runs on, and __spark_entry__'s
oracle_sql() refreshes for the driver's correctness scale (sf0.01) at
SQL-collection time — so the file is current regardless of whether the driver
executes the Spark side or the oracle side first. The sf0.01 materialization
is also committed to the repo as a cold-start fallback.

Reference analog: the gold-answer JSON the reference compares against
(rag2-generation/metrics.py:23-52), upgraded to a per-query parquet contract.
"""

from __future__ import annotations

import os
import re
import zlib

import numpy as np
import pandas as pd

from ..core.text import split_sentences

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
ORACLE_DIR = os.path.join(_REPO_ROOT, "data", "oracle", "current")

# The driver's correctness gate always compares at this scale; the registered
# oracle SQL therefore reads the sf0.01 file. Other scales (bench at sf0.1,
# smoke at sf0.001) materialize to their OWN per-scale path so a later run at
# a different sf can never clobber what the gate reads (ADVICE r2, medium).
GATE_SF_TAG = "sf0.01"

# (name, sf_tag) pairs materialized in this process — avoids recomputing the
# pandas pipeline on every bench iteration
_DONE: set[tuple[str, str]] = set()


def _sf_tag(sf_dir: str) -> str:
    return os.path.basename(os.path.normpath(sf_dir))


def oracle_path(name: str, sf_tag: str = GATE_SF_TAG) -> str:
    return os.path.join(ORACLE_DIR, sf_tag, name + ".parquet")


def oracle_read_sql(name: str) -> str:
    return f"SELECT * FROM read_parquet('{oracle_path(name)}')"


# --------------------------------------------------------------------------
# deterministic transcript/alias synthesis (pandas twin of sources/synth.py)
# --------------------------------------------------------------------------

_TURN_TOKENS = 12
_SUBJECTS = ["spark", "customer", "table", "window", "vector", "column", "batch", "stream"]
_PREDS = ["inhibits", "treats", "causes", "activates", "prevents"]
_ALIAS_SPEC = [
    ("spark", "K0000001", 0.9), ("customer", "K0000002", 0.9),
    ("table", "K0000003", 0.9), ("window", "K0000004", 0.9),
    ("vector", "K0000005", 0.9), ("column", "K0000006", 0.9),
    ("batch", "K0000007", 0.9), ("stream", "K0000008", 0.9),
    ("data", "K0000009", 0.8), ("data", "K0000010", 0.3),
]


def synth_transcripts_pdf(docs: pd.DataFrame) -> pd.DataFrame:
    """Twin of sources/synth.synth_transcripts, edge-for-edge (r4 review):
    - strip(' ') not strip(): Spark F.trim removes SPACES only, so a
      tab-prefixed text keeps its leading separator (and thus a leading
      empty token) in both engines;
    - text=None: Spark NULL-propagates through trim/split/concat and emits
      exactly ONE turn with NULL text (size(NULL)=-1 -> n_turns=1), which
      stage [1] later drops — mirror that, do not invent tokens."""
    rows = []
    for did, text in zip(docs["doc_id"], docs["text"]):
        if text is None or (isinstance(text, float) and pd.isna(text)):
            rows.append((f"conv_{did}", 0, "user", None, "", 0))
            continue
        toks = re.split(r"[ \t\n\x0b\f\r]+", str(text).strip(" "))
        n = max(-(-len(toks) // _TURN_TOKENS), 1)
        for ti in range(n):
            chunk = " ".join(toks[ti * _TURN_TOKENS : (ti + 1) * _TURN_TOKENS])
            if (did + ti) % 3 == 0:
                t = (f"{chunk}. {_SUBJECTS[(did * 7 + ti) % 8]} "
                     f"{_PREDS[(did + ti) % 5]} {_SUBJECTS[(did * 13 + ti) % 8]}.")
            else:
                t = chunk + "."
            rows.append((f"conv_{did}", ti, ["user", "assistant", "tool"][ti % 3], t,
                         "search" if ti % 3 == 2 else "", ti))
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])


def synth_aliases_pdf() -> pd.DataFrame:
    from ..core.text import normalize_alias

    return pd.DataFrame(
        [(normalize_alias(a), a, c, p) for a, c, p in _ALIAS_SPEC],
        columns=["alias_key", "alias", "cui", "prior"],
    )


def _kg_parts(sf_dir: str):
    from .pipeline import oracle_mentions, oracle_triples, oracle_turns

    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
    turns = oracle_turns(synth_transcripts_pdf(docs))
    aliases = synth_aliases_pdf()
    return turns, aliases, oracle_triples, oracle_mentions


def kg_pipeline_full_pdf(sf_dir: str) -> pd.DataFrame:
    turns, aliases, oracle_triples, _ = _kg_parts(sf_dir)
    t = oracle_triples(turns, aliases)
    out = t[["conv_id", "turn_idx", "subj_cui", "pred", "obj_cui", "confidence"]].copy()
    out["turn_idx"] = out["turn_idx"].astype("int32")
    return out


def kg_nodes_full_pdf(sf_dir: str) -> pd.DataFrame:
    from .pipeline import oracle_nodes

    turns, aliases, _, oracle_mentions = _kg_parts(sf_dir)
    nodes = oracle_nodes(oracle_mentions(turns, aliases), aliases)
    return pd.DataFrame(
        {
            "cui": nodes["cui"],
            "surfaces_csv": nodes["surfaces"].map(",".join),
            "mention_count": nodes["mention_count"].astype("int64"),
        }
    )


def _edge_stats_pdf(sf_dir: str) -> pd.DataFrame:
    turns, aliases, oracle_triples, _ = _kg_parts(sf_dir)
    t = oracle_triples(turns, aliases)
    g = t.groupby(["subj_cui", "pred", "obj_cui"], sort=False)
    out = g.agg(
        n_evidence=("confidence", "size"),
        # sequential-fold mean, then Decimal HALF_UP at 6dp: the bit-exact
        # representation twin of Spark's F.round(F.avg(...), 6) — pandas
        # `mean().round(6)` (pairwise sum + half-even multiply-divide round)
        # is the producer class that broke the r3 driver hash
        avg_confidence=("confidence", lambda s: _round_half_up6(
            float(np.cumsum(s.to_numpy())[-1]) / len(s)
        )),
        n_convs=("conv_id", "nunique"),
    ).reset_index()
    out["n_evidence"] = out["n_evidence"].astype("int64")
    out["n_convs"] = out["n_convs"].astype("int64")
    return out


def kg_edge_stats_full_pdf(sf_dir: str) -> pd.DataFrame:
    return _edge_stats_pdf(sf_dir)


def kg_two_hop_paths_pdf(sf_dir: str) -> pd.DataFrame:
    es = _edge_stats_pdf(sf_dir)
    e1 = es.rename(columns={"subj_cui": "a", "pred": "p1", "obj_cui": "b", "n_evidence": "n1"})
    e2 = es.rename(columns={"subj_cui": "b", "pred": "p2", "obj_cui": "c", "n_evidence": "n2"})
    j = e1[["a", "p1", "b", "n1"]].merge(e2[["b", "p2", "c", "n2"]], on="b")
    j = j[j["a"] != j["c"]].copy()
    j["path_support"] = np.minimum(j["n1"], j["n2"]).astype("int64")
    return j[["a", "p1", "b", "p2", "c", "path_support"]]


def kg_question_retrieval_pdf(sf_dir: str, k: int = 5, n_questions: int = 16) -> pd.DataFrame:
    from ..core.linking import rank_candidates
    from ..core.config import LINK_ACCEPT_FLOOR
    from ..core.patterns import detect_mentions

    es = _edge_stats_pdf(sf_dir)
    aliases = synth_aliases_pdf()
    keys = frozenset(aliases["alias_key"])
    alias_idx: dict[str, list] = {}
    srt = aliases.sort_values(["alias_key", "cui"], kind="mergesort")
    for key, cui, alias, prior in zip(srt["alias_key"], srt["cui"], srt["alias"], srt["prior"]):
        alias_idx.setdefault(key, []).append((cui, alias, float(prior)))

    links = set()  # (question_id_str, cui, score)
    for i in range(n_questions):
        text = f"what does {_SUBJECTS[i % len(_SUBJECTS)]} {_PREDS[i % len(_PREDS)]}?"
        for sent in split_sentences(text):
            for m in detect_mentions(sent, keys):
                ranked = rank_candidates(m.surface, alias_idx.get(m.alias_key, []), k=1)
                if ranked and ranked[0][1] >= LINK_ACCEPT_FLOOR:
                    links.add((str(i), ranked[0][0], ranked[0][1]))
    ldf = pd.DataFrame(sorted(links), columns=["question_id", "cui", "link_score"])

    subj = es.merge(ldf.rename(columns={"cui": "subj_cui"}), on="subj_cui")
    obj = es.merge(ldf.rename(columns={"cui": "obj_cui"}), on="obj_cui")
    hits = (
        pd.concat([subj, obj], ignore_index=True)
        .groupby(["question_id", "subj_cui", "pred", "obj_cui", "n_evidence", "avg_confidence"],
                 sort=False)["link_score"].max().reset_index()
    )
    # Integer micro-units via Decimal ROUND_HALF_UP — the bit-exact twin of
    # Spark's F.round(x * 1e6).cast("bigint") (F.round quantizes the double's
    # exact BigDecimal value, NOT floor(x+0.5), which FP-addition can push
    # across a boundary). No raw rounded double survives to the hasher (the
    # r3 driver-hash failure mode).
    import decimal

    raw = (
        hits["link_score"] * hits["avg_confidence"] * np.log1p(hits["n_evidence"]) * 1e6
    ).to_numpy()
    hits["rank_score_micro"] = np.array(
        [int(decimal.Decimal(repr(float(x))).quantize(decimal.Decimal("1"),
                                                rounding=decimal.ROUND_HALF_UP))
         for x in raw],
        dtype="int64",
    )
    hits = hits.sort_values(
        ["question_id", "rank_score_micro", "subj_cui", "pred", "obj_cui"],
        ascending=[True, False, True, True, True],
        kind="mergesort",
    )
    hits["rank"] = hits.groupby("question_id", sort=False).cumcount().astype("int64") + 1
    out = hits[hits["rank"] <= k][
        ["question_id", "subj_cui", "pred", "obj_cui", "n_evidence", "rank_score_micro", "rank"]
    ].copy()
    out["question_id"] = out["question_id"].astype("int32")
    out["n_evidence"] = out["n_evidence"].astype("int64")
    return out.reset_index(drop=True)


def kg_neighborhood_pdf(sf_dir: str, hops: int = 2, k: int = 10) -> pd.DataFrame:
    es = _edge_stats_pdf(sf_dir)
    rows = []
    for seed in ("K0000001", "K0000002", "K0000003"):
        h1 = es[(es["subj_cui"] == seed) | (es["obj_cui"] == seed)]
        edges = {
            (r.subj_cui, r.pred, r.obj_cui, int(r.n_evidence)): 1
            for r in h1.itertuples()
        }
        if hops >= 2:
            frontier = set(h1["subj_cui"]) | set(h1["obj_cui"])
            frontier.discard(seed)
            h2 = es[es["subj_cui"].isin(frontier) | es["obj_cui"].isin(frontier)]
            for r in h2.itertuples():
                edges.setdefault((r.subj_cui, r.pred, r.obj_cui, int(r.n_evidence)), 2)
        recs = sorted(
            ((h, s, p, o, n) for (s, p, o, n), h in edges.items()),
            key=lambda t: (t[0], -t[4], t[1], t[2], t[3]),
        )
        for rank, (h, s, p, o, n) in enumerate(recs[:k], 1):
            rows.append((seed, h, s, p, o, n, rank))
    out = pd.DataFrame(
        rows,
        columns=["seed_cui", "hop", "subj_cui", "pred", "obj_cui", "n_evidence", "rank"],
    )
    out["hop"] = out["hop"].astype("int32")
    out["n_evidence"] = out["n_evidence"].astype("int64")
    out["rank"] = out["rank"].astype("int64")
    return out


# --------------------------------------------------------------------------
# dedup / multimodal / embedding oracles
# --------------------------------------------------------------------------

def dedup_simhash_pdf(sf_dir: str, bits: int = 32, band_bits: int = 16, bands: int = 4) -> pd.DataFrame:
    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
    sims: dict[int, int] = {}
    for did, text in zip(docs["doc_id"], docs["text"]):
        if text is None:
            continue
        toks = re.split(r"[ \t\n\x0b\f\r]+", str(text).lower().strip(" "))
        votes = np.zeros(bits, dtype=np.int64)
        for tok in toks:
            h = zlib.crc32(tok.encode("utf-8"))
            for i in range(bits):
                votes[i] += 1 if (h >> i) & 1 else -1
        sim = 0
        for i in range(bits):
            if votes[i] > 0:
                sim |= 1 << i
        sims[int(did)] = sim
    mask_all = (1 << bits) - 1
    mask_band = (1 << band_bits) - 1
    rot = bits // bands
    buckets: dict[tuple, list] = {}
    for did, h in sims.items():
        for i in range(bands):
            s = i * rot
            rotated = ((h >> s) | (h << (bits - s))) & mask_all if s else h
            buckets.setdefault((i, rotated & mask_band), []).append(did)
    pairs = set()
    for ids in buckets.values():
        ids.sort()
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                pairs.add((ids[x], ids[y]))
    rows = [(a, b, bin(sims[a] ^ sims[b]).count("1")) for a, b in sorted(pairs)]
    out = pd.DataFrame(rows, columns=["id_a", "id_b", "hamming"])
    out["hamming"] = out["hamming"].astype("int32")
    return out


def multimodal_decode_pdf(sf_dir: str) -> pd.DataFrame:
    import hashlib

    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
    rows = []
    for did, text in zip(docs["doc_id"], docs["text"]):
        payload = str(text).encode("utf-8")
        mtype = ["image", "audio", "video"][int(did) % 3]
        d = hashlib.sha256(payload).digest()
        width = 64 + d[0] if mtype in ("image", "video") else None
        height = 64 + d[1] if mtype in ("image", "video") else None
        n_frames = (1 + d[2] % 32) if mtype == "video" else (1 if mtype == "image" else None)
        rows.append((int(did), mtype, len(payload), width, height, n_frames))
    out = pd.DataFrame(
        rows, columns=["media_id", "media_type", "n_bytes", "width", "height", "n_frames"]
    )
    out["n_bytes"] = out["n_bytes"].astype("int32")
    for c in ("width", "height", "n_frames"):
        out[c] = out[c].astype("Int32")
    return out


def multimodal_frame_sample_pdf(sf_dir: str, every_n: int = 8) -> pd.DataFrame:
    dec = multimodal_decode_pdf(sf_dir)
    vid = dec[dec["media_type"] == "video"]
    rows = []
    for r in vid.itertuples():
        for f in range(0, int(r.n_frames), every_n):
            rows.append((int(r.media_id), f, int(r.width), int(r.height)))
    out = pd.DataFrame(rows, columns=["media_id", "frame_idx", "width", "height"])
    out["frame_idx"] = out["frame_idx"].astype("int32")
    out["width"] = out["width"].astype("Int32")
    out["height"] = out["height"].astype("Int32")
    return out


_TRIPLE_PAT = re.compile(r"(\w+) (join|merge|scan|filter|sort) (\w+)")


def embed_link_score_pdf(sf_dir: str) -> pd.DataFrame:
    from ..operators.featurize import embed_text

    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
    surfaces = set()
    for text in docs["text"]:
        for m in _TRIPLE_PAT.finditer(str(text)):
            surfaces.add(m.group(1))
            surfaces.add(m.group(3))
    dict_rows = [
        ("spark", "K01", 0.9), ("customer", "K02", 0.9), ("table", "K03", 0.9),
        ("window", "K04", 0.9), ("vector", "K05", 0.9), ("column", "K06", 0.9),
        ("batch", "K07", 0.9), ("stream", "K08", 0.9),
        ("data", "K09", 0.8), ("data", "K10", 0.3),
    ]
    import decimal

    rows = []
    for surface in surfaces:
        best = None
        s_emb = embed_text(surface)
        for alias, cui, _prior in dict_rows:
            if alias != surface:
                continue
            a_emb = embed_text(alias)
            acc = 0.0
            for x, y in zip(s_emb, a_emb):  # sequential fold == zip_with order
                acc += float(x) * float(y)
            # integer micro-units, bit-exact twin of Spark's
            # F.round(acc * 1e6).cast("bigint"): identical FP product, then
            # Decimal HALF_UP (no raw double reaches the driver hasher)
            cos_micro = int(
                decimal.Decimal(repr(acc * 1e6)).quantize(
                    decimal.Decimal("1"), rounding=decimal.ROUND_HALF_UP
                )
            )
            cand = (-cos_micro, cui)
            if best is None or cand < best:
                best = cand
        if best is not None:
            rows.append((surface, best[1], -best[0]))
    out = pd.DataFrame(sorted(rows), columns=["surface", "cui", "cos_micro"])
    out["cos_micro"] = out["cos_micro"].astype("int64")
    return out


def _round_half_up6(x: float) -> float:
    """Spark F.round semantics: HALF_UP on the SHORTEST-REPR decimal of the
    double — Scala's BigDecimal(double) wraps java BigDecimal.valueOf, which
    goes through Double.toString, NOT the exact binary expansion. Verified
    live (r4 review): F.round(0.9533335, 6) = 0.953334 (repr '0.9533335'
    rounds up) while Decimal(exact binary 0.95333349999...) would round
    DOWN. Python's repr() is the same shortest-round-trip algorithm, so
    Decimal(repr(x)) is the bit-exact twin; Decimal(x) is not."""
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )


def _seq_fold_sum(arr: np.ndarray) -> np.ndarray:
    """Bit-exact twin of Spark's F.aggregate left fold over an array column:
    cumsum is semantically the sequential prefix sum, so its last element
    reproduces ((0+x0)+x1)+... float-for-float."""
    return np.cumsum(arr, axis=-1)[..., -1]


def ann_ivf_topk_pdf(sf_dir: str, n_centroids: int = 16, lloyd_iters: int = 1,
                     nprobe: int = 4, k: int = 10) -> pd.DataFrame:
    """Independent numpy re-derivation of the IVF index + probe search
    (operators/similarity.py build_ivf_index/ivf_topk with the r3 defaults).
    Reproducible because the Spark side quantizes every partition-order-
    sensitive quantity: Lloyd means round to 6dp (as build_ivf_index does), folds are
    sequential (matched here with cumsum), and cosines round to 6dp HALF_UP.
    Seeds = n_centroids smallest (md5(str(id)), id); train = full corpus at
    test scales (<= 200k cap)."""
    import hashlib

    pdf = pd.read_parquet(os.path.join(sf_dir, "embeddings.parquet"))
    ids = pdf["vec_id"].to_numpy()
    mat = np.array([np.asarray(v, dtype=np.float32).astype(np.float64) for v in pdf["embedding"]])
    order = np.argsort(ids, kind="stable")
    ids, mat = ids[order], mat[order]

    rank = np.array([hashlib.md5(str(int(i)).encode()).hexdigest() for i in ids])
    seed_pos = sorted(range(len(ids)), key=lambda p: (rank[p], ids[p]))[:n_centroids]
    cents = mat[seed_pos].copy()  # centroid_id = seed rank order

    def assign(vecs: np.ndarray, cents: np.ndarray) -> np.ndarray:
        # d2 via the sequential fold (vecs_n x cents_m x dim cumsum)
        diff = vecs[:, None, :] - cents[None, :, :]
        d2 = _seq_fold_sum(diff * diff)
        # argmin with centroid_id tie-break == np.argmin (first minimum)
        return np.argmin(d2, axis=1)

    for _ in range(max(lloyd_iters, 0)):
        a = assign(mat, cents)
        for cid in range(len(cents)):
            members = mat[a == cid]
            if len(members):
                # sequential fold over members (np.mean is pairwise-summed,
                # which widens the divergence window vs Spark's sequential
                # partition sums before the 6dp quantization — r3 advice)
                m = np.cumsum(members, axis=0)[-1] / len(members)
                cents[cid] = np.array([_round_half_up6(x) for x in m])
    final = assign(mat, cents)
    nrm = np.sqrt(_seq_fold_sum(mat * mat))

    q_mask = ids < 5
    rows = []
    for qi in np.flatnonzero(q_mask):
        qv, qid, qnrm = mat[qi], ids[qi], nrm[qi]
        qd2 = _seq_fold_sum((qv[None, :] - cents) ** 2)
        probes = np.argsort(qd2, kind="stable")[:nprobe]  # ties break on centroid_id
        cand = np.flatnonzero(np.isin(final, probes) & (ids != qid))
        dots = _seq_fold_sum(mat[cand] * qv[None, :])
        cos = np.array([_round_half_up6(d / (n_ * qnrm)) for d, n_ in zip(dots, nrm[cand])])
        top = sorted(zip(-cos, ids[cand]))[:k]
        for r, (negc, vid) in enumerate(top, 1):
            rows.append((int(qid), int(vid), -negc, r))
    return pd.DataFrame(rows, columns=["query_id", "vec_id", "cosine", "rank"])


# --------------------------------------------------------------------------
# registry + writer
# --------------------------------------------------------------------------

ORACLES: dict[str, callable] = {
    "kg_pipeline_full": kg_pipeline_full_pdf,
    # streaming ingest must equal the batch pipeline edge-for-edge (per-turn
    # stateless stages => micro-batch boundaries cannot change the result)
    "kg_streaming_ingest": kg_pipeline_full_pdf,
    # ditto the checkpointed bucket-group runner: conversations never split
    # across buckets and linking is a pure per-(alias_key,surface) function
    "kg_checkpointed_run": kg_pipeline_full_pdf,
    "kg_nodes_full": kg_nodes_full_pdf,
    "kg_edge_stats_full": kg_edge_stats_full_pdf,
    "kg_two_hop_paths": kg_two_hop_paths_pdf,
    "kg_question_retrieval": kg_question_retrieval_pdf,
    "kg_neighborhood": kg_neighborhood_pdf,
    "dedup_simhash": dedup_simhash_pdf,
    "multimodal_decode": multimodal_decode_pdf,
    "multimodal_frame_sample": multimodal_frame_sample_pdf,
    "embed_link_score": embed_link_score_pdf,
    "ann_ivf_topk": ann_ivf_topk_pdf,
}


def materialize(sf_dir: str, name: str) -> str:
    """Compute the independent expected result for `name` at `sf_dir` and
    write it to that scale's oracle parquet path (atomic tmp+rename). Cached
    per process+scale so bench loops don't recompute."""
    tag = _sf_tag(sf_dir)
    path = oracle_path(name, tag)
    if (name, tag) in _DONE and os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pdf = ORACLES[name](sf_dir)
    tmp = path + f".tmp{os.getpid()}"
    pdf.to_parquet(tmp, index=False)
    os.replace(tmp, path)
    _DONE.add((name, tag))
    return path


def materialize_all(sf_dir: str) -> None:
    for name in ORACLES:
        materialize(sf_dir, name)
