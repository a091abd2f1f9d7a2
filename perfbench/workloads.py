"""The two workloads: set-up, warm-up, timed loop, checks, metrics.

Each workload class builds its inputs from the seed, runs an untimed
warm-up of its operations, then runs its timed loop for the requested
seconds. Every operation is checked against the generator's
own answer; a failed check is counted and printed, never retried.
Layer calls are wrapped in tracer spans (no-ops when tracing is off).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

import gen

BUCKET = "perfbench-catalog"


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile: the smallest value with at least a share
    ``q`` of the samples at or below it."""
    v = sorted(values)
    return v[max(0, min(len(v) - 1, int(np.ceil(q * len(v))) - 1))]


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring hidden/marker files."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def release(spark) -> None:
    """Drop cached and operator-persisted data between operations."""
    from rehiver_spark.session import release_persisted

    spark.catalog.clearCache()
    release_persisted()


class Workload:
    #: repeated input builds per run; ``setup_s`` takes their median
    BUILDS = 3

    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark = spark
        self.tr = tracer
        self.seed = seed
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.info: dict = {}

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.errors.append(what)
            print(f"CHECK FAILED: {what}", flush=True)

    def operation_done(self, errors_before: int) -> None:
        """Count the operation that just ended; any failed check in it
        makes it one failed operation."""
        self.attempted += 1
        self.failed += len(self.errors) > errors_before

    def build_inputs(self, dest: str) -> None:
        raise NotImplementedError

    @staticmethod
    def more(t0: float, seconds: float, done: list[float]) -> bool:
        """Start another operation only if, at the median pace so far,
        it ends inside the measured window (the first always starts)."""
        if not done:
            return True
        return time.perf_counter() - t0 + statistics.median(done) <= seconds

    def setup(self) -> dict:
        """Build inputs BUILDS times (fresh directory each) and keep the
        last; then the warm-up pass. Returns phase times."""
        builds: list[float] = []
        for i in range(self.BUILDS):
            dest = os.path.join(self.work, f"input{i}")
            t = time.perf_counter()
            self.build_inputs(dest)
            builds.append(time.perf_counter() - t)
            if i:
                shutil.rmtree(os.path.join(self.work, f"input{i - 1}"))
        self.inputs = os.path.join(self.work, f"input{self.BUILDS - 1}")
        t = time.perf_counter()
        self.warm_up()
        release(self.spark)
        return {"builds_s": builds, "warmup_s": time.perf_counter() - t}


# ---------------------------------------------------------------------------
# catalog_query
# ---------------------------------------------------------------------------


class CatalogQuery(Workload):
    N_OBJECTS = 50_000
    TOP_K = 8
    CACHE_SIZE = 64
    HOT_KEYS = 4 * CACHE_SIZE  # metadata keys drawn Zipf from this set
    META_DRAWS = 16  # Zipf metadata gets per request (plus the top-k)
    COUNT_AT = 16  # metacache counters are reported at this request
    WARMUP = 12  # planning/JIT keeps speeding up requests for ~15 of them

    def build_inputs(self, dest):
        os.makedirs(dest)
        self.cat = gen.make_catalog(gen.rng_for(self.seed, "catalog"), self.N_OBJECTS)
        self.parts = self.cat.parts()
        t = self.cat.arrow(with_parts=True).sort_by(
            [("year", "ascending"), ("month", "ascending"), ("day", "ascending"),
             ("hour", "ascending"), ("key", "ascending")]
        )
        gen.write_parquet(t, os.path.join(dest, "catalog.parquet"), row_group_size=4096)
        self.meta = {
            k: {"size": int(s), "etag": e, "last_modified": int(m)}
            for k, s, e, m in zip(self.cat.key.tolist(), self.cat.size.tolist(),
                                  self.cat.etag.tolist(), self.cat.mtime_us.tolist())
        }
        rng = gen.rng_for(self.seed, "requests")
        self.hot = rng.choice(len(self.cat), self.HOT_KEYS, replace=False)
        self.requests = gen.make_requests(rng, 2000, self.HOT_KEYS, self.META_DRAWS)
        self.info["input_digest"] = gen.digest(self.cat.digest(), *[
            r.patterns() for r in self.requests[:50]])

    def _engine(self):
        from rehiver_spark import Engine

        eng = Engine(self.spark)
        eng.metadata_cache(fetcher=lambda bucket, key: self.meta.get(key),
                           max_size=self.CACHE_SIZE, ttl=1e9, background=False)
        return eng

    def warm_up(self):
        self.catalog = self.spark.read.parquet(os.path.join(self.inputs, "catalog.parquet"))
        self.engine = self._engine()
        warm = gen.make_requests(gen.rng_for(self.seed, "warmup"), self.WARMUP, self.HOT_KEYS, 2)
        for r in warm:
            self.request(r, -1)
        self.engine.reset_metadata_cache()
        self.engine = self._engine()

    def request(self, r: gen.Request, rid: int):
        """One "find objects" request: optional time window and
        partition spec, then the globs, then count / total size / first
        k keys in one job, then metadata for those keys plus the
        request's Zipf draws."""
        from pyspark.sql import functions as F

        from rehiver_spark import TimePartitioner, find_matching
        from rehiver_spark.operators.partitions import PartitionField, PartitionSchema

        tr = self.tr
        with tr.span("bench.request", req=rid):
            scoped = self.catalog
            if r.window is not None:
                with tr.span("timeparts.range_filter", jobs=False):
                    cond = TimePartitioner("hourly").range_filter(*gen.window_bounds(r.window))
                scoped = scoped.filter(cond)
            if r.prune is not None:
                with tr.span("partitions.prune_filter", jobs=False):
                    schema = PartitionSchema([PartitionField(k, "int") for k in
                                              ("year", "month", "day", "hour")])
                    cond = schema.prune_filter(r.prune)
                scoped = scoped.filter(cond)
            with tr.span("pipeline.find_matching"):
                with tr.span("globs.compile", jobs=False):
                    matched = find_matching(scoped, r.patterns())
                row = matched.agg(
                    F.count("*").alias("n"),
                    F.sum("size").alias("bytes"),
                    F.slice(F.array_sort(F.collect_list("key")), 1, self.TOP_K).alias("first"),
                ).first()
            keys = list(row["first"] or [])
            metas = []
            for key in keys + [self.cat.key[self.hot[i]] for i in r.meta_keys]:
                with tr.span("metacache.get", jobs=False):
                    metas.append((key, self.engine.get_object_metadata(BUCKET, key)))
        return row["n"], row["bytes"] or 0, keys, metas

    def verify(self, r: gen.Request, n, size, keys, metas, rid: int) -> None:
        want = gen.expected_answer(self.cat, self.parts, r, self.TOP_K)
        got = (n, size, gen.digest(*keys))
        self.check(got == want, f"request {rid} {r.patterns()}: got {got} want {want}")
        bad = [k for k, m in metas if m != self.meta.get(k)]
        self.check(not bad, f"request {rid}: wrong metadata for {bad[:3]}")

    def run(self, seconds: float) -> tuple[list[float], list[int]]:
        """Operation times (s) and items each operation processed."""
        lat, matched_rows = [], 0
        t0 = time.perf_counter()
        cache = self.engine.metadata_cache()
        i = 0
        while self.more(t0, seconds, lat):
            r = self.requests[i % len(self.requests)]
            before = len(self.errors)
            t = time.perf_counter()
            try:
                out = self.request(r, i)
            except Exception as e:  # counted, printed, not retried
                out = None
                self.check(False, f"request {i} raised {type(e).__name__}: {e}")
            lat.append(time.perf_counter() - t)
            if out is not None:
                self.verify(r, *out, i)
                matched_rows += out[0]
            self.operation_done(before)
            i += 1
            if i == self.COUNT_AT:
                self.info["metacache_at"] = self._cache_counts(cache, i)
        if i < self.COUNT_AT:  # a short run: its final counts
            self.info["metacache_at"] = self._cache_counts(cache, i)
        self.matched_rows = matched_rows
        # every request filters the whole catalog (before pruning)
        return lat, [len(self.cat)] * len(lat)

    @staticmethod
    def _cache_counts(cache, requests: int) -> dict:
        s = cache.stats
        return {"requests": requests, "hits": s.hits, "misses": s.misses, "evictions": s.evictions}

    def layer_metrics(self) -> dict:
        tr = self.tr
        gets = [s.dur * 1e6 for s in tr.named("metacache.get")]
        at = self.info.get("metacache_at", {})
        scanned = tr.counter("pipeline.find_matching", "inputRecords")
        return {
            "globs.compile_ms": 1e3 * tr.mean("globs.compile"),
            "timeparts.range_filter_ms": 1e3 * tr.mean("timeparts.range_filter"),
            "partitions.prune_filter_ms": 1e3 * tr.mean("partitions.prune_filter"),
            "pipeline.find_matching_s": tr.mean("pipeline.find_matching"),
            "pipeline.rows_scanned_per_row_returned": scanned / max(1, self.matched_rows),
            "metacache.hit_ratio": at.get("hits", 0) / max(1, at.get("hits", 0) + at.get("misses", 0)),
            "metacache.misses": at.get("misses", 0),
            "metacache.evictions": at.get("evictions", 0),
            "metacache.get_us_p50": statistics.median(gets) if gets else 0.0,
        }


# ---------------------------------------------------------------------------
# lake sync (the first step of every curate pass)
# ---------------------------------------------------------------------------


class LakeSync:
    """Brings the lake's snapshot up to date, as rehiver's change-
    detection loop does: ``add_objects`` -> ``detect`` ->
    ``filter_changes(["added", "modified"])`` -> ``process_matching``
    -> ``commit`` into a bucketed ``SnapshotStore``. Each round applies
    fixed counts of adds, modifies and deletes to the object catalog."""

    N_OBJECTS = 20_000
    N_BUCKETS = 8

    def __init__(self, wl: Workload):
        self.wl = wl
        self.keys_processed = 0
        self.rounds = 0

    def build(self, dest: str) -> str:
        self.dest = dest
        self.base = gen.make_catalog(gen.rng_for(self.wl.seed, "snapshot"), self.N_OBJECTS)
        gen.write_parquet(self.base.arrow(), os.path.join(dest, "listing0.parquet"))
        self.rng = gen.rng_for(self.wl.seed, "mutations")
        self.serial = self.N_OBJECTS
        return self.base.digest()

    def warm_up(self) -> None:
        """The initial snapshot (v1) and round 0 are set-up work; they
        also warm the plans at full size."""
        from rehiver_spark import ChangeDetector

        spark = self.wl.spark
        self.detector = ChangeDetector(spark, os.path.join(self.wl.work, "state"),
                                       mode="full", n_buckets=self.N_BUCKETS)
        self.detector.add_objects(spark.read.parquet(os.path.join(self.dest, "listing0.parquet")))
        self.detector.commit()
        self.live = self.base
        self.run_round(-1)

    def prepare(self, r: int):
        """Untimed: the next mutation and its listing file."""
        mut = gen.mutate(self.rng, self.live, self.N_OBJECTS, self.serial)
        self.serial += len(mut.added)
        path = os.path.join(self.dest, f"listing{r + 2}.parquet")
        gen.write_parquet(mut.live.arrow(), path)
        return mut, self.wl.spark.read.parquet(path)

    def run_round(self, r: int, prepared=None) -> None:
        from rehiver_spark import filter_changes, process_matching
        from rehiver_spark.session import track_persist

        mut, listing = prepared or self.prepare(r)
        tr, det = self.wl.tr, self.detector
        with tr.span("changes.detect"):
            det.reset_current()
            det.add_objects(listing)
            changes = track_persist(det.detect())
            counts = {x["change_type"]: x["count"] for x in
                      changes.groupBy("change_type").count().collect()}
            changed = filter_changes(changes, ["added", "modified"]).select("key")
        with tr.span("pipeline.process_matching"):
            log = track_persist(process_matching(changed, len))
            status = {x["status"]: x["count"] for x in log.groupBy("status").count().collect()}
        with tr.span("changes.commit"):
            det.commit()
        self.keys_processed = status.get("processed", 0)
        self.result = (r, mut, counts, status, log, listing)

    def verify(self) -> None:
        r, mut, counts, status, log, listing = self.result
        want = {
            "added": len(mut.added),
            "modified": len(mut.modified),
            "deleted": len(mut.deleted),
            "unchanged": len(self.live) - len(mut.modified) - len(mut.deleted),
        }
        got = {k: counts.get(k, 0) for k in want}
        self.wl.check(got == want, f"round {r}: change counts {got} want {want}")
        if r == 0:
            self.wl.info["round0_changes"] = got
        rows = log.select("key", "status").collect()
        keys = [x["key"] for x in rows]
        planted = set(mut.added.tolist()) | set(mut.modified.tolist())
        self.wl.check(
            len(keys) == len(planted) and set(keys) == planted
            and all(x["status"] == "processed" for x in rows),
            f"round {r}: process log has {len(keys)} rows ({status}) for {len(planted)} changed keys",
        )
        if self.wl.tr.enabled:
            self.probe(listing, r)
        self.live = mut.live
        self.rounds += r >= 0

    def probe(self, listing, r):
        """Traced runs only, outside the pass timing: the snapshot load
        and the listing dedup as calls of their own."""
        from rehiver_spark.sources.catalog import dedup_catalog

        with self.wl.tr.span("changes.load", req=r):
            self.detector.store.load().count()
        with self.wl.tr.span("catalog.dedup_catalog", req=r):
            dedup_catalog(listing).count()

    def layer_metrics(self) -> dict:
        tr = self.wl.tr
        n = max(1, self.rounds)
        store = self.detector.store
        latest = store.latest_version()
        state_bytes, _ = dir_bytes(os.path.join(store.state_dir, f"v{latest}"))
        nbytes = nfiles = 0
        for v in range(latest - self.rounds + 1, latest + 1):  # the timed commits
            b, f = dir_bytes(os.path.join(store.state_dir, f"v{v}"))
            nbytes += b
            nfiles += f
        return {
            "pipeline.process_matching_s": tr.total("pipeline.process_matching") / n,
            "pipeline.keys_processed": self.keys_processed,
            "changes.load_s": tr.total("changes.load") / n,
            "changes.detect_s": tr.total("changes.detect") / n,
            "changes.shuffle_write_bytes": tr.counter("changes.detect", "shuffleWriteBytes") / n,
            "changes.commit_s": tr.total("changes.commit") / n,
            "changes.state_bytes_per_object": state_bytes / len(self.live),
            "catalog.dedup_catalog_s": tr.total("catalog.dedup_catalog") / n,
            "writer.snapshot_bytes_written": nbytes / n,
            "writer.snapshot_files_written": nfiles / n,
        }


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------


class Curate(Workload):
    """The batch job. A pass is one lake sync round followed by one
    curation of the corpus: exact, fuzzy and semantic dedup, budgeted
    quality selection, curated write."""

    N_BASE = 1_000
    WARM_BASE = 100
    THRESHOLD = 0.8
    SEM_THRESHOLD = 0.9
    BUDGET_SHARE = 0.7  # of each source's tokens

    def build_inputs(self, dest):
        os.makedirs(dest)
        self.sync = LakeSync(self)
        lake = self.sync.build(dest)
        self.corpus = gen.make_corpus(gen.rng_for(self.seed, "corpus"), self.N_BASE)
        self.warm_corpus = gen.make_corpus(gen.rng_for(self.seed, "warm-corpus"), self.WARM_BASE)
        for name, c in (("", self.corpus), ("warm_", self.warm_corpus)):
            gen.write_parquet(c.docs_arrow(), os.path.join(dest, f"{name}docs.parquet"), 2048)
            gen.write_parquet(c.emb_arrow(), os.path.join(dest, f"{name}emb.parquet"), 2048)
        self.info["input_digest"] = gen.digest(lake, self.corpus.digest())

    def _read(self, prefix: str):
        docs = self.spark.read.parquet(os.path.join(self.inputs, f"{prefix}docs.parquet"))
        emb = self.spark.read.parquet(os.path.join(self.inputs, f"{prefix}emb.parquet"))
        return docs, emb

    def _budgets(self, corpus: gen.Corpus):
        tokens: dict[str, int] = {}
        for s, t in zip(corpus.source.tolist(), corpus.text):
            tokens[s] = tokens.get(s, 0) + t.count(" ") + 1
        rows = [(s, int(self.BUDGET_SHARE * n)) for s, n in sorted(tokens.items())]
        return self.spark.createDataFrame(rows, "source string, budget_tokens long")

    def warm_up(self):
        self.sync.warm_up()
        self.sync.verify()
        release(self.spark)
        docs, emb = self._read("warm_")
        self._pass(docs, emb, self._budgets(self.warm_corpus), "warm", -1)

    def _pass(self, docs, emb, budgets, out: str, rid: int, sync=None):
        from pyspark.sql import functions as F

        from rehiver_spark import (
            connected_components,
            exact_dedup,
            minhash_neardup_pairs,
            quality_select,
            write_partitioned,
        )
        from rehiver_spark.operators.vectorops import semdedup
        from rehiver_spark.session import track_persist

        tr = self.tr
        res = {}
        with tr.span("bench.pass", req=rid):
            if sync is not None:
                self.sync.run_round(rid, sync)
            with tr.span("dedup.exact"):
                ex = track_persist(exact_dedup(docs))
                res["exact_removed"] = ex.filter(~F.col("is_keeper")).count()
                keepers = ex.filter("is_keeper").select("doc_id", "source", "text")
            with tr.span("dedup.fuzzy"):
                pairs = track_persist(minhash_neardup_pairs(keepers, threshold=self.THRESHOLD))
                res["pairs"] = [(p["id_a"], p["id_b"]) for p in
                                pairs.select("id_a", "id_b").collect()]
            with tr.span("dedup.components"):
                comp = track_persist(connected_components(pairs))
                res["clusters"] = {c["doc_id"]: c["cluster_id"] for c in comp.collect()}
            removed = comp.filter(F.col("cluster_id") != F.col("doc_id")).select("doc_id")
            survivors = keepers.join(removed, "doc_id", "left_anti")
            with tr.span("vectorops.semdedup"):
                vecs = emb.join(survivors.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi")
                sd = track_persist(semdedup(vecs, threshold=self.SEM_THRESHOLD))
                per_cell = sd.groupBy("cell_id").agg(
                    F.count("*").alias("n"), F.count_if(~F.col("keep")).alias("dropped")
                ).collect()
            res["cells"] = [c["n"] for c in per_cell]
            res["sem_removed"] = sum(c["dropped"] for c in per_cell)
            kept = survivors.join(
                sd.filter("keep").select(F.col("vec_id").alias("doc_id")), "doc_id", "left_semi")
            with tr.span("textops.quality_select"):
                sel = track_persist(quality_select(kept, budgets))
                res["selected"] = sel.count()
            with tr.span("writer.write_curated"):
                path = os.path.join(self.work, "curated", out)
                write_partitioned(kept.join(sel.select("doc_id"), "doc_id", "left_semi"),
                                  path, ["source"])
        res["written"] = self.spark.read.parquet(path).count()
        res["bytes"], res["files"] = dir_bytes(path)
        shutil.rmtree(path)
        return res

    def run(self, seconds: float) -> tuple[list[float], list[int]]:
        docs, emb = self._read("")
        budgets = self._budgets(self.corpus)
        walls, recalls = [], []
        t0 = time.perf_counter()
        p = 0
        while self.more(t0, seconds, walls):
            sync = self.sync.prepare(p)
            before = len(self.errors)
            t = time.perf_counter()
            try:
                res = self._pass(docs, emb, budgets, f"pass{p}", p, sync)
            except Exception as e:
                self.check(False, f"pass {p} raised {type(e).__name__}: {e}")
                self.operation_done(before)
                break  # the snapshot state is no longer the planted one
            walls.append(time.perf_counter() - t)
            self.sync.verify()
            recalls.append(self._verify(p, res))
            self.operation_done(before)
            if self.tr.enabled:
                self._probe(docs, p)
            release(self.spark)
            p += 1
        self.passes = len(walls)
        self.recall = statistics.median(recalls) if recalls else 0.0
        return walls, [len(self.corpus.text)] * len(walls)

    def _verify(self, p, res) -> float:
        c = self.corpus
        self.check(res["exact_removed"] == c.exact_copies,
                   f"pass {p}: exact removals {res['exact_removed']} want {c.exact_copies}")
        low = [(a, b) for a, b in res["pairs"]
               if gen.jaccard(c.text[a], c.text[b]) < self.THRESHOLD]
        self.check(not low, f"pass {p}: {len(low)} fuzzy pairs below {self.THRESHOLD}: {low[:3]}")
        self.check(res["written"] == res["selected"],
                   f"pass {p}: wrote {res['written']} rows, selected {res['selected']}")
        cl = res["clusters"]
        found = sum(1 for a, b in c.near_pairs if a in cl and cl.get(a) == cl.get(b))
        self.info["verified_pairs"] = len(res["pairs"])
        self.info["within_cell_pairs"] = sum(n * (n - 1) // 2 for n in res["cells"])
        self.info["max_cell_rows"] = max(res["cells"])
        self.info["neardup_found"] = found
        self.info["sem_removed"] = res["sem_removed"]
        self.written = (res["bytes"], res["files"])
        return found / len(c.near_pairs)

    def _probe(self, docs, p):
        """Traced runs only, outside the pass timing: LSH candidates
        before verification, for the verify yield."""
        from pyspark.sql import functions as F

        from rehiver_spark import exact_dedup, shingles
        from rehiver_spark.operators.dedup import lsh_candidates

        with self.tr.span("dedup.candidates", req=p):
            keepers = exact_dedup(docs).filter("is_keeper")
            sh = keepers.select("doc_id", shingles(F.col("text"), 3).alias("shingles"))
            self.info["candidate_pairs"] = lsh_candidates(sh).count()

    def layer_metrics(self) -> dict:
        tr = self.tr
        n = max(1, self.passes)
        cand = self.info.get("candidate_pairs", 0)
        ver = self.info.get("verified_pairs", 0)
        sync = self.sync.layer_metrics()
        snap_bytes = sync.pop("writer.snapshot_bytes_written")
        snap_files = sync.pop("writer.snapshot_files_written")
        return {
            **sync,
            "dedup.exact_s": tr.total("dedup.exact") / n,
            "dedup.fuzzy_s": tr.total("dedup.fuzzy") / n,
            "dedup.candidate_pairs": cand,
            "dedup.verified_pairs": ver,
            "dedup.verify_yield": ver / cand if cand else 0.0,
            "dedup.components_s": tr.total("dedup.components") / n,
            "vectorops.semdedup_s": tr.total("vectorops.semdedup") / n,
            "vectorops.within_cell_pairs": self.info.get("within_cell_pairs", 0),
            "vectorops.max_cell_rows": self.info.get("max_cell_rows", 0),
            "textops.quality_select_s": tr.total("textops.quality_select") / n,
            "dedup.neardup_recall": self.recall,
            # snapshot commit + curated output, per pass
            "writer.bytes_written": snap_bytes + self.written[0],
            "writer.files_written": snap_files + self.written[1],
        }


WORKLOADS = {"catalog_query": CatalogQuery, "curate": Curate}
