"""The benchmark's workloads: inputs, warm-up, timed passes, output checks.

Each workload is driven as a closed loop by ``run.py``: one client, one
pipeline pass at a time, the next pass only after the previous one has
finished. Inputs are made from the seed before anything is timed. The
warm-up runs the workload's code path on a small input of its own, so
the timed passes measure a warm JVM rather than its class loading, JIT
and code generation.
"""

from __future__ import annotations

import csv
import glob
import hashlib
import importlib.util
import os
import shutil
import time

import feedgen
from probes import TreeMeter, catalyst_phases, persisted_rdds
from spans import ACTION


def _load_tool(root: str, rel: str, name: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(root, rel))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Pass:
    """What one timed pass reports."""

    def __init__(self):
        self.run_s = 0.0
        self.reingest_s = None
        self.cpu_s = 0.0
        self.peak_rss_mb = 0.0
        self.leftover_rdds = 0
        self.out_bytes_per_in_byte = None
        self.calls = 0
        self.failed = 0
        self.catalyst: dict[str, float] = {}


# ---------------------------------------------------------------------------
# feed_convert
# ---------------------------------------------------------------------------


class FeedConvert:
    """``plans.convert.xml_to_csv`` on a seeded YML feed, written as
    multi-part CSV. A pass converts a copy of the feed at a path the
    process has never read, then converts the same file again."""

    name = "feed_convert"
    N_OFFERS = 5000
    N_WARM_OFFERS = 300

    def __init__(self, root: str, work: str, seed: int):
        self.root, self.work, self.seed = root, work, seed
        self.src = os.path.join(work, "feed.xml")
        self.warm_src = os.path.join(work, "warm.xml")
        self.n = 0
        self.expected: str | None = None

    def prepare(self) -> None:
        os.makedirs(os.path.join(self.work, "in"), exist_ok=True)
        self.offer_paths = feedgen.write_feed(self.src, self.seed, self.N_OFFERS)
        self.in_bytes = os.path.getsize(self.src)
        feedgen.write_feed(self.warm_src, self.seed, self.N_WARM_OFFERS)

    def _fresh(self, src: str) -> tuple[str, str]:
        """A copy of ``src`` at a new path (a cache miss for every
        path-keyed cache) and a new output directory."""
        self.n += 1
        path = os.path.join(self.work, "in", f"feed_{self.n}.xml")
        shutil.copyfile(src, path)
        return path, os.path.join(self.work, "out", f"csv_{self.n}")

    def _convert(self, spark, src: str, dst: str) -> None:
        from magicxml_spark.plans.convert import xml_to_csv

        xml_to_csv(spark, src, dst, single_file=False)

    def warm_up(self, spark) -> None:
        """Untimed: convert two fresh copies of the small feed. A
        conversion's CPU time keeps falling over the first few in a
        process; this makes the timed one the third."""
        from magicxml_spark.session import release_persisted_rdds

        for _ in range(2):
            src, out = self._fresh(self.warm_src)
            self._convert(spark, src, out)
            shutil.rmtree(out, ignore_errors=True)
            os.unlink(src)
        release_persisted_rdds(spark)

    def run_pass(self, spark, tracer=None) -> Pass:
        p = Pass()
        src, dst = self._fresh(self.src)
        self.last = (src, [])
        for out in (dst, dst + "_again"):
            p.calls += 1
            try:
                if out == dst:
                    with TreeMeter() as m:
                        t0 = time.perf_counter()
                        self._convert(spark, src, out)
                        p.run_s = time.perf_counter() - t0
                    p.cpu_s, p.peak_rss_mb = m.cpu_s, m.peak_rss_mb
                    p.leftover_rdds = persisted_rdds(spark)
                else:
                    t0 = time.perf_counter()
                    self._convert(spark, src, out)
                    p.reingest_s = time.perf_counter() - t0
            except Exception as e:  # a failed call counts, the loop goes on
                print(f"perfbench: conversion to {out} failed: {e!r}", flush=True)
                p.failed += 1
                continue
            self.last[1].append(out)
            fp = csv_fingerprint(out)
            if self.expected is None:
                self.expected = fp
            elif fp != self.expected:
                p.failed += 1
        if self.last[1] and self.last[1][0] == dst:
            out_bytes = sum(os.path.getsize(f) for f in glob.glob(os.path.join(dst, "part-*")))
            p.out_bytes_per_in_byte = out_bytes / self.in_bytes
        return p

    def verify(self, spark) -> list[str]:
        """Check the first timed pass's first output against the
        generator; its fingerprint is the one every later output must
        match."""
        outs = self.last[1]
        if not outs:
            return ["no output"]
        return check_feed_csv(outs[0], self.offer_paths)

    def after_pass(self, spark) -> None:
        from magicxml_spark.session import release_persisted_rdds

        src, outs = self.last
        for out in outs:
            shutil.rmtree(out, ignore_errors=True)
        os.unlink(src)
        release_persisted_rdds(spark)


def _csv_parts(out_dir: str) -> list[str]:
    parts = sorted(glob.glob(os.path.join(out_dir, "part-*.csv")))
    if not parts:
        raise FileNotFoundError(f"no CSV parts under {out_dir}")
    return parts


def csv_fingerprint(out_dir: str) -> str:
    """Order-insensitive digest of a multi-part CSV: the header plus the
    sorted data lines of every part."""
    header, lines = None, []
    for part in _csv_parts(out_dir):
        with open(part, "rb") as f:
            body = f.read().splitlines()
        if body:
            header = header or body[0]
            lines.extend(body[1:] if body[0] == header else body)
    h = hashlib.blake2b(header or b"")
    for line in sorted(lines):
        h.update(b"\n" + line)
    return f"{len(lines)}:{h.hexdigest()}"


def check_feed_csv(out_dir: str, offer_paths: dict[str, str]) -> list[str]:
    """Row count, header and every row's category_path against the
    generator's pure-Python parent walk."""
    problems = []
    want_header = feedgen.expected_header()
    rows = 0
    for part in _csv_parts(out_dir):
        with open(part, encoding="utf-8", newline="") as f:
            reader = csv.reader(f, delimiter=";", quotechar='"')
            header = next(reader, None)
            if header is None:
                continue
            if header != want_header:
                problems.append(f"header {header} != {want_header}")
                return problems
            id_at, path_at = header.index("attr_id"), header.index("category_path")
            for row in reader:
                rows += 1
                want = offer_paths.get(row[id_at])
                if row[path_at] != want:
                    problems.append(f"offer {row[id_at]}: category_path {row[path_at]!r} != {want!r}")
                    if len(problems) > 5:
                        return problems
    if rows != len(offer_paths):
        problems.append(f"{rows} rows written, {len(offer_paths)} offers generated")
    return problems


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------


class CorpusCuration:
    """``q_curation_v8``, the single-operator justext and C4 span-dedup
    queries (the curation layers v8 does not reach), then exact cosine
    top-k and embedding cluster dedup, over a seeded ``documents`` and
    ``embeddings`` table. Every result is fully consumed by an xxhash64
    fold over all of its cells."""

    name = "corpus_curation"
    QUERIES = (
        "q_curation_v8", "q_justext_extract", "q_c4_span_dedup",
        "q_cosine_topk", "q_embedding_cluster_dedup",
    )
    SF = 0.002  # 100 documents, 500 vectors
    # The warm-up runs v8 alone on 30 documents: the first curation in a
    # process pays most of the JVM's cold cost, and warming every query
    # would cost another 15 s of set-up.
    WARM_QUERY = "q_curation_v8"
    WARM_SF = 0.0006

    def __init__(self, root: str, work: str, seed: int):
        self.root, self.work, self.seed = root, work, seed
        self.sf_dir = os.path.join(work, "tables")
        self.warm_dir = os.path.join(work, "warm_tables")
        self.expected: dict[str, tuple] = {}
        self.last: dict[str, object] = {}

    def prepare(self) -> None:
        gen = _load_tool(self.root, "tools/gen_sf.py", "perfbench_gen_sf")
        gen.SEED = self.seed
        gen.generate(self.SF, self.sf_dir)
        gen.generate(self.WARM_SF, self.warm_dir)

    def warm_up(self, spark) -> None:
        """Untimed: the warm-up query on the small tables."""
        from pyspark.sql import functions as F

        from magicxml_spark.queries import QUERIES
        from magicxml_spark.session import release_persisted_rdds

        fold(QUERIES[self.WARM_QUERY](spark, self.warm_dir), F)
        release_persisted_rdds(spark)

    def run_pass(self, spark, tracer=None) -> Pass:
        from pyspark.sql import functions as F

        from magicxml_spark.queries import QUERIES

        p = Pass()
        self.last = {}
        with TreeMeter() as m:
            t_all = time.perf_counter()
            for q in self.QUERIES:
                p.calls += 1
                fn = QUERIES[q]
                try:
                    if tracer is None:
                        df = fn(spark, self.sf_dir)
                        folded, fp = fold(df, F)
                    else:
                        with tracer.span(f"queries.{fn.__module__.rsplit('.', 1)[-1]}.{q}"):
                            df = fn(spark, self.sf_dir)
                        with tracer.span(ACTION):
                            folded, fp = fold(df, F)
                except Exception as e:  # a failed call counts, the loop goes on
                    print(f"perfbench: {q} failed: {e!r}", flush=True)
                    p.failed += 1
                    continue
                self.last[q] = df
                for k, v in catalyst_phases(folded).items():
                    p.catalyst[k] = p.catalyst.get(k, 0.0) + v
                if self.expected.get(q, fp) != fp:
                    p.failed += 1
                self.expected.setdefault(q, fp)
            p.run_s = time.perf_counter() - t_all
        p.cpu_s, p.peak_rss_mb = m.cpu_s, m.peak_rss_mb
        p.leftover_rdds = persisted_rdds(spark)
        return p

    def verify(self, spark) -> list[str]:
        """Compare the first pass's results with each query's DuckDB
        oracle (untimed; the checkpoint blocks are still alive)."""
        oracle = _load_tool(self.root, "tests/oracle_harness.py", "perfbench_oracle_harness")
        from magicxml_spark.queries import ORACLE

        con = oracle.duck_connection(self.sf_dir)
        problems = []
        try:
            for q in self.QUERIES:
                df = self.last.get(q)
                if df is None:
                    problems.append(f"{q}: no result")
                    continue
                r = oracle.compare(df, con, ORACLE[q])
                bad = [k for k in ("rows_match", "schema_match", "values_match", "types_match") if not r[k]]
                if bad:
                    problems.append(f"{q}: {bad} {r.get('first_diff', '')}")
        finally:
            con.close()
        return problems

    def after_pass(self, spark) -> None:
        from magicxml_spark.session import release_persisted_rdds

        self.last = {}
        release_persisted_rdds(spark)


def fold(df, F):
    """Consume every cell of ``df``: (rows, xor and exact sum of the
    per-row xxhash64 of all columns). Returns the folded frame, for its
    Catalyst phases, and the fingerprint."""
    h = F.xxhash64(F.struct(*[F.col(f"`{c}`") for c in df.columns])).alias("h")
    folded = df.select(h).agg(
        F.count("*"), F.expr("bit_xor(h)"), F.sum(F.col("h").cast("decimal(38,0)"))
    )
    return folded, tuple(folded.collect()[0])


WORKLOADS = {w.name: w for w in (FeedConvert, CorpusCuration)}
