"""Output referee: every check runs outside the timed regions and feeds
the run's ``attempted``/``failed`` counts.

* Oracle rank identity: the engine against the pure-Python oracle in
  ``tests/oracle`` (imported read-only) on the reference query set over
  a small seeded corpus, in both scoring modes. The oracle is too slow
  for workload-sized corpora, so it gets its own 200-turn corpus.
* Routed vs exhaustive: the public ``Index.search*`` call (which may
  route through block-max WAND or a driver-side fast path) against
  ``Index.executor(mode)``, the exhaustive DataFrame plan: identical
  docids, scores within 1e-9.
"""

from __future__ import annotations

from typing import List

import numpy as np

from . import gen

SCORE_TOL = 1e-9


def same_results(got: List[tuple], want: List[tuple]) -> bool:
    return ([g[0] for g in got] == [w[0] for w in want]
            and all(abs(g[1] - w[1]) <= SCORE_TOL
                    for g, w in zip(got, want)))


def rows(df) -> List[tuple]:
    return [(r["docid"], r["score"]) for r in df.collect()]


def search_call(idx, q: dict, top_k: int = 10):
    """The public ``Index.search*`` call for a query spec (a DataFrame;
    the engine may route it through WAND or a driver-side path)."""
    if q["shape"] == "bm25":
        return idx.search_bm25(q["text"], top_k=top_k)
    if q["shape"] == "wand_text":
        return idx.search_wand_text(q["text"], top_k=top_k)
    return idx.search(gen.to_dsl(q), top_k=top_k)


def exhaustive(idx, q: dict, top_k: int = 10):
    """The exhaustive-executor twin of ``search_call``."""
    if q["shape"] in ("bm25", "wand_text"):
        return idx.executor("bm25").search_text(q["text"], top_k=top_k)
    return idx.executor("elasticlunr").execute(gen.to_dsl(q), top_k=top_k)


def routed_vs_exhaustive(idx, specs: List[dict], run) -> None:
    """Compare each spec's public search with the exhaustive executor;
    ``run.m["referee_routed"]`` counts the comparisons whose public
    search took the WAND route again."""
    from . import probes

    routed = 0
    for q in specs:
        probes.took_route()
        df = search_call(idx, q)
        routed += probes.took_route() or q["shape"] == "wand_text"
        got = rows(df)
        want = rows(exhaustive(idx, q))
        run.check(same_results(got, want),
                  "routed != exhaustive for %s %r" % (q["shape"], q["text"]))
    run.m["referee_routed"] = routed


def oracle_rank_identity(spark, seed: int, run, n_queries: int) -> dict:
    """Top-10 rank identity vs the oracle in both modes over a seeded
    sample of ``n_queries`` of the reference query set; returns the
    rate per mode."""
    from ex_elasticlunr_spark import Index
    from tests.oracle import OracleIndex
    from tests.oracle.core import search as oracle_search
    from tests.oracle.query_set import TRANSCRIPT_QUERIES, reference_query_set

    corpus = gen.oracle_corpus(seed)
    docs = [{"id": d, "text": t, "tool": tl}
            for d, t, tl in zip(corpus.docids, corpus.text, corpus.tool)]
    sdf = spark.createDataFrame([(d["id"], d["text"], d["tool"])
                                 for d in docs],
                                "docid string, text string, tool string")
    idx = Index(name="referee").add_field("text").add_field("tool")
    idx.add_documents(sdf, docid_col="docid", dedupe=False)
    idx.materialize()
    oidx = OracleIndex().add_field("text").add_field("tool")
    oidx.add_documents(docs)

    qset = reference_query_set("text") + TRANSCRIPT_QUERIES
    rng = np.random.default_rng([seed, 5])
    qset = [qset[i] for i in sorted(rng.choice(len(qset), n_queries,
                                               replace=False))]
    rates = {}
    for mode, oview in (("bm25", oidx.bm25()), ("elasticlunr", oidx)):
        matched = 0
        for qd in qset:
            got = rows(idx.search(qd, top_k=10, mode=mode))
            want = [(r["ref"], r["score"])
                    for r in oracle_search(oview, qd, top_k=10)]
            ok = same_results(got, want)
            run.check(ok, "oracle mismatch (%s) on %r" % (mode, qd))
            matched += ok
        rates[mode] = matched / len(qset)
    return rates
