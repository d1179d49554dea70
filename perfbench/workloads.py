"""The workloads.  Each one stages its seeded inputs, then runs
operations that call the engine's public functions with their defaults
and checks every result against ``reference``.

A workload exposes ``stage(rep)`` (set-up, repeated and timed by the
harness), ``op(i)`` (one measured operation; returns the items it
processed and a check to run outside the timed region) and
``layers(...)`` (the per-layer extras of a traced run).
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import reference as R
import tracing as T

from log_aggregation_pipeline_spark.operators.order import sessionize, with_turn_order
from log_aggregation_pipeline_spark.operators.parse import parse_transcripts
from log_aggregation_pipeline_spark.operators.query import (
    SearchQuery,
    aggregate,
    get_by_id,
    search,
)
from log_aggregation_pipeline_spark.plans.lineage import manifest_dir
from log_aggregation_pipeline_spark.plans.pipeline import (
    InjectedFailure,
    parsed_view,
    read_all_sinks,
    read_sink,
    run_pipeline,
    tagged_view,
)
from log_aggregation_pipeline_spark.plans.result_cache import ResultCache, table_version

# Input sizes.  "full" is what the benchmark measures; "tiny" keeps the
# self-test fast.
SIZES = {
    "full": {
        "batch_turns": 3_000, "batch_convs": 3_000, "batches": 20,
        "docs": 800, "docs_exact": 40, "docs_near": 40,
    },
    "tiny": {
        "batch_turns": 300, "batch_convs": 200, "batches": 16,
        "docs": 200, "docs_exact": 10, "docs_near": 10,
    },
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


class Base:
    item = "items"
    WARMUP_OPS = 0  # untimed operations after the first one

    def __init__(self, spark, work: str, seed: int, size: dict, tracer: T.Tracer | None):
        self.spark, self.work, self.seed, self.size = spark, work, seed, size
        self.tracer = tracer
        self.con = duckdb.connect()
        self.report: dict = {}  # workload-specific end-to-end figures
        # checked calls a traced run makes outside the timed operations
        self.extra_attempted = self.extra_failed = 0

    def close(self) -> None:
        self.con.close()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)



def _ingest_layers(tracer: T.Tracer, ops: list[dict]) -> dict:
    """Pipeline phase seconds (median per call) and lineage reads."""
    traced = {o["op"] for o in ops}
    phases = [T.pipeline_phases(tracer, s["id"]) for s in tracer.spans
              if s["name"] == "run_pipeline" and s["op"] in traced and "error" not in s]
    out = {f"pipeline.{k}_s": statistics.median(p[k] for p in phases)
           for k in list(T.PIPELINE_PHASES.values()) + ["other", "wall"]}
    out["lineage.read_ms"] = 1e3 * statistics.median(
        T.lineage_read_s(tracer, o["op"]) for o in ops)
    return out


def _ladder(spark, source, reps: int) -> dict:
    """Self times from a noop-sink prefix ladder over the same input:
    scan, +parse, +enrich, +tag.  Each rung is the median of ``reps``
    noop writes; a layer's self time is its rung minus the one below."""
    rungs = {
        "scan": lambda: source,
        "parse": lambda: parse_transcripts(source),
        "enrich": lambda: parsed_view(spark, source),
        "route": lambda: tagged_view(parsed_view(spark, source)),
    }
    t = {k: statistics.median(_timed(lambda: _noop(f())) for _ in range(reps))
         for k, f in rungs.items()}
    ok = parse_transcripts(source).agg(F.avg(F.col("parse_ok").cast("double"))).first()[0]
    return {
        "sources.scan_s": t["scan"],
        "parse.exec_s": t["parse"] - t["scan"],
        "enrich.exec_s": t["enrich"] - t["parse"],
        "route.exec_s": t["route"] - t["enrich"],
        "parse.ok_ratio": float(ok),
    }


# ---------------------------------------------------------------------------
class IngestIncremental(Base):
    """Small hour-disjoint batches appended into one out_dir.  The
    warm-up batch first crashes after one sink commit
    (``fail_after_sinks=1``) and is then re-run to resume."""

    item = "turns"
    WARMUP_OPS = 1
    CRASH_AT = 1

    def stage(self, rep: int) -> None:
        s = self.size
        df = gen.transcripts(self.seed, s["batch_turns"] * s["batches"], s["batch_convs"],
                             s["batches"])
        bdir = self.path(f"batches_{rep}")
        os.makedirs(bdir)
        table = gen.to_arrow(df)
        hours = df["_hour"].to_numpy()
        self.paths, self.truths = [], []
        for b in range(s["batches"]):
            m = hours == b
            p = os.path.join(bdir, f"batch_{b:03d}.parquet")
            pq.write_table(table.filter(m), p)
            self.paths.append(p)
            self.truths.append(df[m])
        self.out = self.path(f"incr_out_{rep}")

    def pipeline(self, df, out: str, **kw):
        """run_pipeline, inside a span when a traced op is running."""
        if self.tracer is None or not self.tracer.active:
            return run_pipeline(self.spark, df, out, **kw)
        with self.tracer.span("run_pipeline"):
            return run_pipeline(self.spark, df, out, **kw)

    def prepare_checks(self) -> None:
        self.want = {s: (0, 0, 0, 0) for s in R.SINKS}
        self.done_turns = self.done_batches = 0

    def op(self, i: int):
        if i >= len(self.paths):
            raise RuntimeError("ran out of generated batches; raise 'batches'")
        batch = self.spark.read.parquet(self.paths[i])
        crashed = False
        if i == self.CRASH_AT:
            try:
                self.pipeline(batch, self.out, fail_after_sinks=1)
            except InjectedFailure:
                crashed = True
        t0 = time.perf_counter()
        res = self.pipeline(batch, self.out)
        dt = time.perf_counter() - t0
        if crashed:
            self.report["resume_s"] = (dt, "s")
        n = len(self.truths[i])

        def check() -> bool:
            batch_want = R.expected_state(self.con, gen.expected_routes(self.truths[i]))
            self.want = R.add_states(self.want, batch_want)
            self.done_turns += n
            self.done_batches += 1
            ok = R.pipeline_state(self.con, self.out) == self.want
            if i == self.CRASH_AT:
                # the crashed run committed this hour of the first sink only
                hour = (gen.BASE_TS + np.timedelta64(i, "h")).astype(object)
                ok &= crashed and hour.strftime("%Y-%m-%d-%H") in res.skipped["errors"]
            return ok

        return dt, n, check

    def layers(self, ops: list[dict]) -> dict:
        out = _ingest_layers(self.tracer, ops)
        out.update(_ladder(self.spark, self.spark.read.parquet(self.paths[0]), reps=2))
        out["parse.udf_mb"] = float(self.truths[0]["text"].str.len().sum()) / 2**20
        out["route.fanout"] = sum(v[0] for v in self.want.values()) / self.done_turns
        out["sink.bytes_per_turn"] = _dir_bytes(os.path.join(self.out, "sinks")) / self.done_turns
        out["lineage.manifest_files"] = len(os.listdir(manifest_dir(self.out)))
        out.update(self._query_ladder())
        return out

    def _query_ladder(self, hits_per_spec: int = 2) -> dict:
        """The read side over the committed sinks: one spec of each
        query kind through the result cache, filled once and then hit
        ``hits_per_spec`` times; every result is checked."""
        done = pd.concat(self.truths[: self.done_batches])
        specs = _query_specs(np.random.default_rng(self.seed + 1), done, self.done_batches)
        cache = ResultCache(self.spark, self.path("cache"))
        fill, hit, by_kind = [], [], {}
        for spec in specs:
            want = R.query_reference(self.con, self.out, spec)
            for rep in range(1 + hits_per_spec):
                t0 = time.perf_counter()
                rows = cache.get_or_compute(spec, table_version(self.out),
                                            lambda: _query(self.spark, self.out, spec)).collect()
                ms = 1e3 * (time.perf_counter() - t0)
                (hit if rep else fill).append(ms)
                if not rep:
                    by_kind[spec["kind"]] = ms
                got = R.normalize_result(spec, rows)
                ok = R.lookup_ok(got, want) if spec["kind"] == "lookup" else got == want
                if not ok:
                    print(f"query mismatch {spec}: got {got[:5]} want {want[:5]}",
                          file=sys.stderr)
                self.extra_attempted += 1
                self.extra_failed += not ok
        out = {f"query.{k}_ms": v for k, v in by_kind.items()}
        out["cache.hit_ratio"] = len(hit) / (len(hit) + len(fill))
        out["cache.hit_ms"] = statistics.median(hit)
        out["cache.fill_ms"] = statistics.median(fill)
        return out


QUERY_KINDS = ("search", "terms", "histogram", "count", "lookup", "session")


def _query(spark, out: str, spec: dict):
    """The query a spec describes, built from the engine's query and
    ordering operators over the committed sinks."""
    kind = spec["kind"]
    if kind == "lookup":
        return get_by_id(read_all_sinks(spark, out), spec["id"]).select("conv_id", "turn_idx")
    df = read_sink(spark, out, spec["sink"])
    q = SearchQuery(query=spec.get("q", ""), start=spec["start"], end=spec["end"],
                    limit=spec.get("limit", 100), offset=spec.get("offset", 0))
    if kind == "search":
        q.fields = ["conv_id", "turn_idx", "level", "error_code"]
        return search(df, q, tiebreakers=("conv_id", "turn_idx"))
    if kind == "terms":
        return aggregate(df, q, "terms", agg_field=spec["field"])
    if kind == "histogram":
        return aggregate(df, q, "date_histogram", interval="hour")
    if kind == "count":
        return aggregate(df, q, "count")
    hot = df.filter(F.col("conv_id") == spec["conv_id"])
    return sessionize(with_turn_order(hot)).select(
        "conv_id", "turn_idx", "turn_rank", "session_id")


def _query_specs(rng, truth, n_hours: int) -> list[dict]:
    """One query spec per kind over ``truth``'s rows; time ranges are
    whole hours of the first ``n_hours`` generated hours."""
    base = gen.BASE_TS.astype("datetime64[s]").astype(object)
    hot = truth.loc[truth["role"] == "user", "conv_id"].value_counts().index[:1].tolist()
    # lookups ask for rows that some sink holds
    routed = truth[truth["_errors"] | (truth["role"] == "user")
                   | (truth["tool"].notna() & (truth["tool"] != ""))]
    specs = []
    for j, kind in enumerate(QUERY_KINDS):
        a = int(rng.integers(0, n_hours - 1))
        b = int(rng.integers(a + 1, n_hours + 1))
        spec = {"kind": str(kind), "sink": str(rng.choice(R.SINKS)),
                "start": str(base + np.timedelta64(a, "h").astype(object)),
                "end": str(base + np.timedelta64(b, "h").astype(object)), "n": j}
        if kind == "search":
            spec.update(q=str(rng.choice(["code=e0", "call:", "svc=auth", "retry", "shard"])),
                        limit=int(rng.choice([10, 50, 100])), offset=int(rng.choice([0, 0, 20])))
        elif kind == "terms":
            spec["field"] = str(rng.choice(["level", "tool", "role", "error_code"]))
        elif kind == "lookup":
            r = routed.iloc[int(rng.integers(0, len(routed)))]
            spec = {"kind": "lookup", "id": _row_id(r), "n": j}
        elif kind == "session":
            spec["conv_id"] = hot[0]
            spec["sink"] = "user_turns"
        specs.append(spec)
    return specs


def _row_id(r) -> str:
    """md5(conv_id ':' turn_idx ':' text), the engine's row identity."""
    import hashlib

    return hashlib.md5(f"{r['conv_id']}:{r['turn_idx']}:{r['text']}".encode()).hexdigest()


# ---------------------------------------------------------------------------
class CorpusCurate(Base):
    """The registered LSH near-dup curation funnel over a seeded corpus
    with planted exact and near duplicates."""

    item = "docs"

    def stage(self, rep: int) -> None:
        import __spark_entry__ as E

        s = self.size
        self.docs = gen.corpus(self.seed, s["docs"], s["docs_exact"], s["docs_near"])
        self.dir = self.path(f"corpus_{rep}")
        os.makedirs(self.dir)
        self.docs.to_parquet(os.path.join(self.dir, "documents.parquet"), index=False)
        self.query = E.queries()["corpus_prep_funnel_neardup_lsh"]
        self.oracle = E.oracle_sql()["corpus_prep_funnel_neardup_lsh"]

    def prepare_checks(self) -> None:
        self.want = R.funnel_reference(self.docs, self.oracle)

    def op(self, i: int):
        t0 = time.perf_counter()
        report = self.query(self.spark, self.dir)
        rows = report.collect()
        for f in report.lap_persisted:
            f.unpersist()
        dt = time.perf_counter() - t0

        def check() -> bool:
            return len(rows) == 1 and rows[0].asDict() == self.want

        return dt, len(self.docs), check

    def layers(self, ops: list[dict]) -> dict:
        import __spark_entry__ as E
        from log_aggregation_pipeline_spark.operators.cluster import cluster_drop_list
        from log_aggregation_pipeline_spark.operators.decontam import (
            contaminated_docs,
            eval_split,
        )
        from log_aggregation_pipeline_spark.operators.dedupe import (
            exact_dedup_rows,
            minhash_lsh_pairs,
            minhash_signatures,
        )
        from log_aggregation_pipeline_spark.operators.text_analysis import quality_features

        docs = self.spark.read.parquet(os.path.join(self.dir, "documents.parquet"))
        exact = exact_dedup_rows(docs)
        t_exact = _timed(lambda: _noop(exact))
        pairs = minhash_lsh_pairs(exact, num_hashes=64, bands=16, threshold=E.JACCARD_T,
                                  k=E.JACCARD_K)
        t0 = time.perf_counter()
        n_verified = pairs.count()
        t_pairs = time.perf_counter() - t0
        # the pair frames stay persisted, so the drop list's time is its own
        t_drop = _timed(lambda: _noop(cluster_drop_list(exact, pairs)))
        for f in pairs.lap_persisted:
            f.unpersist()
        ev = eval_split(docs, E.N_EVAL)
        flag = contaminated_docs(docs.join(ev.select("doc_id"), "doc_id", "left_anti"), ev,
                                 k=E.DECONTAM_K)
        t_flag = _timed(lambda: _noop(flag))
        t_qual = _timed(lambda: _noop(quality_features(exact)))
        # candidate pairs: docs sharing any band of their (public) MinHash
        # signature, banded here exactly as the LSH stage bands them
        sigs = minhash_signatures(exact, num_hashes=64, k=E.JACCARD_K).collect()
        cand = set()
        for band in range(16):
            buckets: dict[tuple, list] = {}
            for r in sigs:
                buckets.setdefault(tuple(r["sig"][band * 4:(band + 1) * 4]), []).append(r["_id"])
            for ids in buckets.values():
                ids.sort()
                cand.update((a, b) for x, a in enumerate(ids) for b in ids[x + 1:])
        return {
            "dedupe.exact_s": t_exact,
            "dedupe.lsh_pairs_s": t_pairs - t_exact,
            "dedupe.verify_ratio": n_verified / max(1, len(cand)),
            "cluster.drop_list_s": t_drop,
            "decontam.flag_s": t_flag,
            "text.quality_s": t_qual - t_exact,
        }


WORKLOADS = {
    "ingest_incremental": IngestIncremental,
    "corpus_curate": CorpusCurate,
}
