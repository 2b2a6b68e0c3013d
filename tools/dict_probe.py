"""Synthetic-dictionary probe: what shipping a large alias dictionary costs,
on a first and on a repeat ship in one session. Needs no download.

    python tools/dict_probe.py [--aliases 1000000] [--master local[4]]

Writes `--aliases` synthetic aliases (1-3 token keys, two aliases per cui)
as a 4-file parquet dictionary under a temp dir, then runs twice, each time
over a fresh read of that dictionary:

- `broadcast_alias_keys`: Spark jobs, driver wall time and the size of
  the Arrow file it ships;
- on the first run only, a cold ask: one `link_questions` collect over 16
  questions while no Python worker has started, with the tasks of each of
  its Spark jobs, its wall time and the peak RSS (`VmHWM`) of every Python
  process under the JVM afterwards (each worker that ran a link task built
  the index);
- one SQL task per core that times how long its Python worker takes to
  have the index ready (the memory-mapped table, the kernel's vocabulary
  and the linker's sorted-key view), with the worker's peak RSS;
- one `link_questions` pass over 16 questions: Spark jobs and wall time.

Then, in the driver process, after reading its peak RSS (the Python
process and its JVM):

- `link`: microseconds per linked pair, `pair_linker` over up to 10,000
  distinct (alias_key, alias) pairs of the shipped dictionary (lookup,
  scoring and acceptance);
- `kernel`: the extraction kernel over the turns of the n_conv=1000
  fixture, with the fixture's dictionary and with the synthetic keys added:
  keys, seconds to build the vocabulary, best-of-3 kernel seconds and
  output rows.

Prints one JSON object. On the repeat run the ship is expected to hit the
session's memo (0 jobs) and the workers to keep the index they built.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FILES = 4


def write_aliases(path: str, n: int) -> list[str]:
    """`n` aliases over a synthetic vocabulary into `FILES` parquet files;
    returns 16 of the aliases for the questions."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def word(i: int) -> str:
        s = ""
        i += 26 * 26  # at least three letters
        while i:
            i, r = divmod(i, 26)
            s += chr(97 + r)
        return s

    os.makedirs(path)
    names = []
    per = -(-n // FILES)
    for f in range(FILES):
        keys, aliases, cuis, priors = [], [], [], []
        for i in range(f * per, min(n, (f + 1) * per)):
            key = " ".join(word(i * 3 + t) for t in range(1 + i % 3))
            keys.append(key)
            aliases.append(key.title())
            cuis.append(f"C{i // 2:07d}")
            priors.append((i * 7919 % 100) / 100)
        pq.write_table(pa.table({"alias_key": keys, "alias": aliases, "cui": cuis,
                                 "prior": priors}), os.path.join(path, f"part-{f}.parquet"))
        names += aliases[:4]
    return names[:16]


def index_ready(handle):
    """A mapInArrow body: this worker's pid, seconds until its index is
    ready, and peak RSS in MB. A SQL pass, so it runs in the Python workers
    the link pass uses (an RDD job starts a pool of its own)."""

    def ready(batches):
        import resource

        import pyarrow as pa

        for _ in batches:
            t0 = time.perf_counter()
            idx = handle.value
            idx.vocab
            idx.candidates_of("")
            rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
            yield pa.RecordBatch.from_pydict({
                "pid": [os.getpid()], "ready_s": [round(time.perf_counter() - t0, 3)],
                "rss_mb": [round(rss)]})

    return ready


def link_us_per_pair(handle, n: int = 10_000) -> dict:
    """`pair_linker` over up to `n` distinct (alias_key, alias) pairs spread
    over the shipped dictionary, in this process."""
    import pyarrow as pa

    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.linking import (
        pair_linker,
    )

    table = handle.value.candidates
    rows = table.take(pa.array(range(0, len(table), max(1, len(table) // n))))
    pairs = sorted(set(zip(rows.column("alias_key").to_pylist(),
                           rows.column("alias").to_pylist())))
    link = pair_linker(handle)
    t0 = time.perf_counter()
    linked = sum(link(k, s) is not None for k, s in pairs)
    return {"pairs": len(pairs), "linked": linked,
            "us_per_pair": round((time.perf_counter() - t0) / len(pairs) * 1e6, 1)}


def kernel_timing(work: str, handle) -> list[dict]:
    """The extraction kernel in this process over the turns of the
    n_conv=1000 fixture, with its own dictionary and with the shipped
    synthetic keys added."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from knowledge_graph_integration_rag_biomedical_qna_spark.core.patterns import AliasIndex
    from knowledge_graph_integration_rag_biomedical_qna_spark.core.vectorized import (
        extract_unified_batches,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.fixtures.gen import generate_all

    fx = generate_all(os.path.join(work, "fixture"), n_conv=1000)
    tr = pa.Table.from_pandas(fx["transcripts"][["conv_id", "turn_idx", "text"]],
                              preserve_index=False)
    cols = [c.combine_chunks() for c in tr.columns]
    fixture_keys = pa.array(fx["concept_aliases"]["alias_key"], pa.string())
    out = []
    for keys in (fixture_keys, pa.chunked_array([fixture_keys, *handle.value.keys.chunks])):
        idx = AliasIndex(keys)
        t0 = time.perf_counter()
        idx.vocab
        vocab_s = time.perf_counter() - t0
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            rows = sum(map(len, extract_unified_batches(*cols, idx)))
            walls.append(time.perf_counter() - t0)
        out.append({"turns": len(tr), "keys": len(pc.unique(keys)), "vocab_s": round(vocab_s, 3),
                    "kernel_s": round(min(walls), 3), "rows": rows})
    return out


def python_peak_rss_mb(root: int) -> list[int]:
    """VmHWM in MB of every Python process descended from pid `root`,
    largest first (the worker daemon and the workers it forked)."""
    children: dict[int, list[int]] = {}
    for d in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(d))
    stack, out = list(children.get(root, [])), []
    while stack:
        pid = stack.pop()
        stack += children.get(pid, [])
        try:
            with open(f"/proc/{pid}/status") as fh:
                status = dict(ln.split(":", 1) for ln in fh if ":" in ln)
        except OSError:
            continue
        if "python" in status["Name"] and "VmHWM" in status:
            out.append(round(int(status["VmHWM"].split()[0]) / 1024))
    return sorted(out, reverse=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--aliases", type=int, default=1_000_000)
    ap.add_argument("--master", default="local[4]")
    args = ap.parse_args()

    import resource

    from pyspark import SparkFiles

    from knowledge_graph_integration_rag_biomedical_qna_spark.plans.pipeline import (
        broadcast_alias_keys,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.plans.query import link_questions
    from knowledge_graph_integration_rag_biomedical_qna_spark.session import get_spark
    from knowledge_graph_integration_rag_biomedical_qna_spark.sources.io import read_aliases
    from knowledge_graph_integration_rag_biomedical_qna_spark.sources.synth import values_df

    work = tempfile.mkdtemp(prefix="dict_probe-")
    try:
        path = os.path.join(work, "aliases")
        t0 = time.perf_counter()
        names = write_aliases(path, args.aliases)
        out = {"aliases": args.aliases, "master": args.master,
               "write_s": round(time.perf_counter() - t0, 2)}
        spark = get_spark(app_name="dict_probe", master=args.master)
        sc = spark.sparkContext
        cores = sc.defaultParallelism
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        questions = values_df(spark, [(i, f"what does {a} treat?") for i, a in enumerate(names)],
                              "question_id int, text string")

        def job_tasks(group: str) -> list[int]:
            st = sc.statusTracker()
            return [sum(st.getStageInfo(s).numTasks for s in st.getJobInfo(j).stageIds)
                    for j in sorted(st.getJobIdsForGroup(group))]

        def timed(fn):
            jobs = sc._jsc.sc().dagScheduler().nextJobId()
            t0 = time.perf_counter()
            res = fn()
            return res, {"jobs": sc._jsc.sc().dagScheduler().nextJobId() - jobs,
                         "wall_s": round(time.perf_counter() - t0, 3)}

        for run in ("first", "repeat"):
            aliases = read_aliases(spark, path)
            handle, ship = timed(lambda: broadcast_alias_keys(spark, aliases))
            if run == "first":
                sc.setJobGroup("cold_ask", "cold_ask")
                links, cold = timed(
                    lambda: link_questions(spark, questions, aliases, handle).collect())
                sc.setLocalProperty("spark.jobGroup.id", None)
                out["cold_ask"] = {**cold, "rows": len(links), "tasks": job_tasks("cold_ask"),
                                   "python_peak_rss_mb": python_peak_rss_mb(jvm_pid)}
            workers = spark.range(0, cores, 1, cores).mapInArrow(
                index_ready(handle), "pid long, ready_s double, rss_mb long").collect()
            links, link = timed(
                lambda: link_questions(spark, questions, aliases, handle).collect())
            ship["file_mb"] = round(os.path.getsize(SparkFiles.get(handle.file_name)) / 2**20, 1)
            out[run] = {"ship": ship, "link": {**link, "rows": len(links)},
                        "workers": [w.asDict() for w in sorted(workers)]}
        out["same_handle"] = handle is broadcast_alias_keys(spark, read_aliases(spark, path))
        with open(f"/proc/{jvm_pid}/status") as fh:
            jvm_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:"))
        out["driver_peak_rss_mb"] = {
            "python": round(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024),
            "jvm": round(jvm_kb / 1024)}
        out["link"] = link_us_per_pair(handle)
        out["kernel"] = kernel_timing(work, handle)
        print(json.dumps(out))
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
