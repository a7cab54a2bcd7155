"""The benchmark's workloads, driven through the public
``ex_elasticlunr_spark`` API from one process.

Both workloads run one lifecycle, so every end-to-end metric is
measured natively on each of them:

1. generate the seeded inputs (``gen.py``);
2. build and durably save the base warehouse
   (``Index.add_documents`` + ``InvertedIndex.save``);
3. set up a reader once untimed, then ``SETUP_REPS`` times
   (``Index.load`` + a warm-up query); the median busy CPU is
   ``setup_s``;
4. measure for ``--seconds``:

   * ``serve`` — phase A is a closed loop of one client over a seeded
     query stream; phase B replays a second stream from ``CLIENTS``
     threads sharing one ``Index``. Nothing is built while timed; the
     base save is the workload's one commit.
   * ``live_ingest`` — writes beside reads: one delta commit
     (``add_documents`` + ``save_delta``) through the set-up index, an
     ``Index.load`` of the new commit and a query for the batch's
     planted term, then reads across both generations from one client
     (phase R) and from ``CLIENTS`` threads (phase C);

5. referee checks outside the timed phase (``referee.py``); traced runs
   add a tombstoning commit and a tiered compaction (``delta_coverage``).
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Dict, List, Optional

import numpy as np

from . import gen, probes, referee

N_BASE = 2000          # base warehouse turns
N_BATCH = 300          # turns per ingest batch
CLIENTS = 4            # client threads of the concurrent phases (= cores)
# set-ups timed after an untimed one: right after the build the JVM is
# still warming the load path, and each open costs less busy CPU than
# the one before it (7.2 s, 5.3 s, 4.4 s, 3.5 s, 3.1 s, 2.6 s at seed 21)
SETUP_REPS = 3
WARM_SHAPES = ("match_or",)
PHASE_A_SHARE = 2 / 3  # serve: share of --seconds for the one-client loop
READ_SHARE = 0.5       # live_ingest: one-client reads, x --seconds
CONC_SHARE = 0.3       # live_ingest: CLIENTS-client reads, x --seconds
TOMB_PER_READ = 4      # top docids of each checked read that get removed
TOMB_BATCH = 2         # docids of the previous batch that get removed
# measured queries re-run on the exhaustive executor, by shape group:
# gate-opened match_or first, then the always-routed multi-clause shapes
ROUTED_SAMPLE = ((("match_or",), 1), (("bool", "bm25", "wand_text"), 1))
ORACLE_SAMPLE = 6      # oracle queries per mode in a traced run


class Run:
    """One benchmark run: Spark session, work directory, tracer, the
    attempted/failed tally and the raw measurements."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer):
        self.spark = spark
        self.work = work
        self.wh = os.path.join(work, "warehouse")
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: List[str] = []
        self._lock = threading.Lock()
        self.seen_terms: set = set()
        # {phase, shape, ms, cpu_ms, cold, routed, spec}
        self.queries: List[dict] = []
        self.commits: List[dict] = []   # {commit_ms, cpu_s, visible_ms, turns}
        self.delta_bytes: List[int] = []  # warehouse growth per delta
        self.compactions: List[float] = []
        self.loads: List[dict] = []     # {gens, ms}
        self.m: Dict[str, float] = {}
        self.host: Optional[probes.CpuMeter] = None  # the measured phase
        self.phases: Dict[str, float] = {}
        self._t_phase = time.perf_counter()

    def phase(self, name: str) -> None:
        """Record the wall time since the previous phase mark."""
        now = time.perf_counter()
        self.phases[name] = round(now - self._t_phase, 3)
        self._t_phase = now

    def check(self, ok: bool, what: str) -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.failures.append(what)

    def fail(self, what: str, exc: BaseException) -> None:
        self.check(False, "%s: %s: %s" % (what, type(exc).__name__,
                                          str(exc).splitlines()[0][:300]
                                          if str(exc) else ""))

    def parquet(self, name: str, corpus: gen.Corpus, files: int) -> str:
        path = os.path.join(self.work, "input", name)
        corpus.write_parquet(path, files=files)
        return path


# -- operations -------------------------------------------------------------

def load(run: Run):
    from ex_elasticlunr_spark import Index

    t0 = time.perf_counter()
    with run.tracer.span("deltas.load"):
        idx = Index.load(run.spark, run.wh)
    run.loads.append({"ms": (time.perf_counter() - t0) * 1e3,
                      "gens": _generations(run.wh)})
    return idx


def _generations(wh: str) -> int:
    with open(os.path.join(wh, "manifest.json")) as fh:
        return len(json.load(fh).get("generations", []))


def query(run: Run, idx, q: dict, phase: str,
          tombstoned: Optional[set] = None, serial: bool = True) -> None:
    """One search request: the ``search*()`` call, then ``.collect()``.
    Latency is recorded only for requests that succeed."""
    terms = set(q["terms"])
    with run._lock:
        cold = not terms <= run.seen_terms
        run.seen_terms |= terms
    with run.tracer.op("op.query", serial=serial, shape=q["shape"],
                       phase=phase):
        j0 = probes.cpu_jiffies()[0]
        t0 = time.perf_counter()
        try:
            with run.tracer.span("dsl.search"):
                probes.took_route()
                df = referee.search_call(idx, q)
                routed = probes.took_route() or q["shape"] == "wand_text"
            with run.tracer.span("search.collect"):
                rows = df.collect()
        except Exception as e:  # a failed request is counted, not raised
            run.fail("query %s %r" % (q["shape"], q["text"]), e)
            return
        ms = (time.perf_counter() - t0) * 1e3
        # busy CPU of a request is its own only when it ran alone
        cpu_ms = ((probes.cpu_jiffies()[0] - j0) * 1e3 / probes.HZ
                  if serial else None)
    scores = [r["score"] for r in rows]
    ok = len(rows) <= 10 and scores == sorted(scores, reverse=True)
    if tombstoned:
        ok = ok and not any(r["docid"] in tombstoned for r in rows)
    run.check(ok, "query %s %r returned a bad page" % (q["shape"], q["text"]))
    with run._lock:
        run.queries.append({"phase": phase, "shape": q["shape"], "ms": ms,
                            "cpu_ms": cpu_ms, "cold": cold,
                            "routed": routed, "spec": q})


def read_blocks(run: Run, idx, stream, phase: str, until: float,
                min_blocks: int = 1) -> None:
    """One client issues queries until ``until``, then finishes the
    current block, so the phase holds every query shape equally often
    (streams come in blocks of one query per shape, ``gen.SHAPES``)."""
    n = 0
    block = len(gen.SHAPES)
    while time.perf_counter() < until or n % block or n < min_blocks * block:
        query(run, idx, next(stream), phase)
        n += 1


def read_concurrent(run: Run, idx, stream, phase: str,
                    until: float) -> None:
    """``CLIENTS`` closed-loop clients sharing one ``Index`` pull from
    one stream until ``until``, then the current block is finished, so
    the phase holds whole blocks (every shape equally often). Busy CPU
    over the phase per completed query is ``concurrent_cpu_ms``."""
    lock = threading.Lock()
    block = len(gen.SHAPES)
    handed = [0]

    def next_query() -> Optional[dict]:
        with lock:
            n = handed[0]
            if n and not n % block and time.perf_counter() >= until:
                return None
            handed[0] = n + 1
            return next(stream)

    def client() -> None:
        q = next_query()
        while q is not None:
            query(run, idx, q, phase, serial=False)
            q = next_query()

    with probes.CpuMeter() as cpu, ThreadPoolExecutor(CLIENTS) as pool:
        t0 = time.perf_counter()
        for f in [pool.submit(client) for _ in range(CLIENTS)]:
            f.result()
        wall = time.perf_counter() - t0
    done = len([q for q in run.queries if q["phase"] == phase])
    run.m["throughput_qps"] = done / wall
    run.m["concurrent_cpu_ms"] = cpu.busy_s * 1e3 / max(done, 1)


def build_base(run: Run, corpus: gen.Corpus) -> float:
    """Build and durably save the base warehouse; returns the
    ``perf_counter`` at which the build started."""
    from ex_elasticlunr_spark import Index

    src = run.spark.read.parquet(run.parquet("base", corpus, files=4))
    timings: dict = {}
    with run.tracer.op("op.build", turns=len(corpus)), \
            probes.CpuMeter() as cpu:
        t0 = time.perf_counter()
        idx = Index(name="bench").add_field("text").add_field("tool")
        with run.tracer.span("build.add_documents"):
            idx.add_documents(src, docid_col="docid", dedupe=False)
        with run.tracer.span("build.save", timings=timings):
            idx.inverted.save(run.wh, timings=timings)
        build_s = time.perf_counter() - t0
    run.m["turns"] = len(corpus)
    run.m["build_s"] = build_s
    run.m["build_cpu_s"] = cpu.busy_s
    run.m["build_timings"] = timings
    text_bytes = corpus.text_bytes()
    run.m["index_bytes_per_text_byte"] = probes.du_bytes(run.wh) / text_bytes
    run.m["text_bytes"] = text_bytes
    run.m["table_bytes"] = table_bytes(run.wh)
    return t0


def table_bytes(wh: str) -> Dict[str, int]:
    """Warehouse bytes by table family across the base snapshot and
    every delta generation."""
    family = {"postings": "postings", "positions": "positions",
              "segments": "segments", "seg_lens": "segments",
              "ordinals": "ordinals", "ordinals_extra": "ordinals",
              "doc_stats": "stats", "field_stats": "stats",
              "term_stats": "stats", "docs": "stats"}
    out = dict.fromkeys(sorted(set(family.values())), 0)
    for dirpath, _dirs, files in os.walk(wh):
        parts = os.path.relpath(dirpath, wh).split(os.sep)
        fam = next((family[p] for p in parts if p in family), None)
        if fam:
            out[fam] += sum(os.path.getsize(os.path.join(dirpath, f))
                            for f in files)
    return out


def setup_reader(run: Run, warm: List[dict]):
    """One untimed, then ``SETUP_REPS`` timed x (``Index.load`` +
    warm-up queries); the median busy CPU of the timed ones is
    ``setup_s``, their median wall time ``wall.setup_s``. Returns the
    last reader and the time the first warm-up query returned."""
    walls, cpus = [], []
    idx = first = None
    for _ in range(SETUP_REPS + 1):
        with run.tracer.op("op.setup"), probes.CpuMeter() as cpu:
            t0 = time.perf_counter()
            idx = load(run)
            for q in warm:
                query(run, idx, q, "warm")
                first = first or time.perf_counter()
            walls.append(time.perf_counter() - t0)
        cpus.append(cpu.busy_s)
    run.m["setup_s"] = statistics.median(cpus[1:])
    run.m["setup_wall_s"] = statistics.median(walls[1:])
    return idx, first


def ingest_cycle(run: Run, k: int, batch: gen.Corpus, plant: str,
                 prev: Optional[tuple], tombstoned: set,
                 tomb_ids: List[str], writer=None, record: bool = True):
    """Commit batch ``k`` (and tombstones) through ``writer`` (an index
    loaded at the current commit; opened here when None), then reopen a
    reader that must see it: the planted-term query returns exactly
    this batch plus the live part of the previous one. Returns the new
    reader."""
    src = run.spark.read.parquet(run.parquet("batch-%d" % k, batch, files=1))
    bytes0 = probes.du_bytes(run.wh)
    if writer is None:
        with run.tracer.op("op.open_writer"):
            writer = load(run)
    with run.tracer.op("op.commit", cycle=k), probes.CpuMeter() as cpu:
        t0 = time.perf_counter()
        with run.tracer.span("build.add_documents"):
            writer.add_documents(src, docid_col="docid", dedupe=False)
        if tomb_ids:
            writer.remove_documents(tomb_ids)  # lazy: runs in save_delta
        with run.tracer.span("deltas.save_delta"):
            writer.save_delta()
        commit_ms = (time.perf_counter() - t0) * 1e3
    run.delta_bytes.append(probes.du_bytes(run.wh) - bytes0)
    tombstoned.update(tomb_ids)
    expect = set(batch.docids)
    text = plant
    if prev is not None:
        text += " " + prev[1]
        expect |= set(prev[0]) - tombstoned
    with run.tracer.op("op.reopen", cycle=k):
        reader = load(run)
        with run.tracer.span("dsl.search"):
            df = reader.search({"query": {"match": {"text": text}}})
        with run.tracer.span("search.collect"):
            got = {r["docid"] for r in df.collect()}
        visible_ms = (time.perf_counter() - t0) * 1e3
    run.check(got == expect,
              "cycle %d: planted query returned %d docs, want %d (%d "
              "missing, %d extra)" % (k, len(got), len(expect),
                                      len(expect - got), len(got - expect)))
    if record:
        run.commits.append({"commit_ms": commit_ms, "cpu_s": cpu.busy_s,
                            "visible_ms": visible_ms, "turns": len(batch)})
    return reader


def compact(run: Run, idx):
    with run.tracer.op("op.compaction"):
        t0 = time.perf_counter()
        with run.tracer.span("deltas.compact_tiered"):
            idx.compact_tiered()
        run.compactions.append((time.perf_counter() - t0) * 1e3)
    with run.tracer.op("op.reopen"):
        return load(run)


# -- workloads ----------------------------------------------------------------

def _streams(run: Run, corpus: gen.Corpus):
    """Warm-up queries and two independent main streams, all seeded by
    the run."""
    warm = [q for q in gen.query_stream(run.seed, corpus, len(gen.SHAPES),
                                        stream=9)
            if q["shape"] in WARM_SHAPES]
    return (warm, gen.query_stream(run.seed, corpus, 2000, stream=0),
            gen.query_stream(run.seed, corpus, 2000, stream=1))


def serve(run: Run) -> None:
    """Read-heavy: the base build is the one commit; it becomes visible
    when the first set-up reader answers."""
    corpus = gen.Corpus(run.seed, N_BASE)
    warm, stream_a, stream_b = _streams(run, corpus)
    run.phase("generate")
    t_build = build_base(run, corpus)
    run.phase("build")
    idx, t_visible = setup_reader(run, warm)
    run.commits.append({"commit_ms": run.m["build_s"] * 1e3,
                        "cpu_s": run.m["build_cpu_s"],
                        "visible_ms": (t_visible - t_build) * 1e3,
                        "turns": N_BASE})
    run.phase("setup")
    with probes.CpuMeter() as run.host:
        t0 = time.perf_counter()
        read_blocks(run, idx, iter(stream_a), "A",
                    t0 + run.seconds * PHASE_A_SHARE, min_blocks=2)
        read_concurrent(run, idx, iter(stream_b), "B", t0 + run.seconds)
    run.phase("measure")
    referee.routed_vs_exhaustive(idx, _sample(run, "A"), run)
    _check_doc_count(run, idx, N_BASE)
    if run.tracer.enabled:
        batch, plant = gen.planted_batch(run.seed, 0, N_BATCH, corpus.vocab)
        idx = ingest_cycle(run, 0, batch, plant, None, set(), [],
                           record=False)
        delta_coverage(run, idx, corpus, 1, (batch.docids, plant))
    run.phase("referee")


def delta_coverage(run: Run, idx, corpus: gen.Corpus, k: int,
                   prev: tuple) -> None:
    """Traced runs only, after the measured phase: a commit with
    tombstones, reads that must not return a tombstoned docid, and a
    ``compact_tiered`` of the two newest generations.

    The checked reads repeat two measured reads (so their terms are
    warm); the tombstones are the top ``TOMB_PER_READ`` docids each of
    them returns before the commit plus ``TOMB_BATCH`` docids of the
    previous batch, so a leaked tombstone shows in the reads and in the
    planted-term check."""
    tombstoned: set = set()
    reads = [q["spec"] for q in run.queries if q["phase"] in ("A", "R")][:2]
    tomb = set()
    for q in reads:
        tomb.update(r["docid"] for r in
                    referee.search_call(idx, q).collect()[:TOMB_PER_READ])
    rng = np.random.default_rng([run.seed, 6])
    tomb.update(rng.choice(prev[0], TOMB_BATCH, replace=False).tolist())
    batch, plant = gen.planted_batch(run.seed, k, N_BATCH, corpus.vocab)
    idx = ingest_cycle(run, k, batch, plant, prev, tombstoned,
                       sorted(tomb), record=False)
    for q in reads:
        query(run, idx, q, "T", tombstoned)
    compact(run, idx)


def live_ingest(run: Run) -> None:
    """Writes beside reads: one delta commit through the set-up index
    (the writer), made visible to a reopened reader, then reads across
    the new generation: ``READ_SHARE`` x ``--seconds`` from one client,
    ``CONC_SHARE`` x ``--seconds`` from ``CLIENTS`` clients."""
    corpus = gen.Corpus(run.seed, N_BASE)
    warm, stream, stream_c = _streams(run, corpus)
    run.phase("generate")
    build_base(run, corpus)
    run.phase("build")
    writer, _ = setup_reader(run, warm)
    run.phase("setup")
    batch, plant = gen.planted_batch(run.seed, 0, N_BATCH, corpus.vocab)
    with probes.CpuMeter() as run.host:
        idx = ingest_cycle(run, 0, batch, plant, None, set(), [],
                           writer=writer)
        read_blocks(run, idx, iter(stream), "R",
                    time.perf_counter() + run.seconds * READ_SHARE)
        read_concurrent(run, idx, iter(stream_c), "C",
                        time.perf_counter() + run.seconds * CONC_SHARE)
    run.phase("measure")
    referee.routed_vs_exhaustive(idx, _sample(run, "R"), run)
    live_ids = corpus.docids + batch.docids
    _check_doc_count(run, idx, len(live_ids))
    if run.tracer.enabled:
        delta_coverage(run, idx, corpus, 1, (batch.docids, plant))
    run.phase("referee")


def _sample(run: Run, phase: str) -> List[dict]:
    """A seeded sample of the phase's distinct routed query specs for
    the referee, ``ROUTED_SAMPLE`` per shape group."""
    rng = np.random.default_rng([run.seed, 7])
    out = []
    for shapes, n in ROUTED_SAMPLE:
        specs = list({q["spec"]["text"] + q["shape"]: q["spec"]
                      for q in run.queries if q["phase"] == phase
                      and q["routed"] and q["shape"] in shapes}.values())
        pick = rng.choice(len(specs), min(n, len(specs)), replace=False)
        out += [specs[i] for i in sorted(pick)]
    return out


def _check_doc_count(run: Run, idx, want: int) -> None:
    got = idx.documents_size()
    run.check(got == want, "warehouse holds %d live docs, want %d"
              % (got, want))


WORKLOADS = {"serve": serve, "live_ingest": live_ingest}
