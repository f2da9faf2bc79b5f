"""The benchmark's two workloads. Each is a closed loop: one driver,
one job at a time, the next job submitted only after the previous one
finished. Every input is generated from ``--seed``; the engine only ever
sees the generated DataFrames.

- ``crawl_zipf_resume``: the fixed per-round cost regime. A zipf
  synthetic web crawled at the reference host quota, every round
  committed to a ``SnapshotCatalog``. Set-up crawls round 0 and stops
  (the "kill"); each job resumes a copy of that catalog with a fresh
  engine and crawls round 1 through the sharded seen-sketch path.
- ``frontier_load``: the per-row regime. One big seed batch through the
  load stage: ``prepare_frontier`` -> in-round dedup -> ``filter_unseen``
  over a pre-built seen table above its bloom threshold -> best url per
  id -> per-host slot window. No rounds, fetch or catalog. Its traced
  run also builds a training dataset from generated payloads.
"""

from __future__ import annotations

import random
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from publicationsretriever_spark.crawl.oracle import (
    all_urls_of_web,
    compute_verdicts,
    crawl_oracle,
)
from publicationsretriever_spark.functions.urls import canonicalize_one
from publicationsretriever_spark.operators.besturl import pick_best_url_per_id
from publicationsretriever_spark.operators.dedup import (
    canonicalize_clusters,
    cluster_safe_split,
)
from publicationsretriever_spark.operators.multimodal import (
    decode_image_metrics,
    image_dedup_assign,
)
from publicationsretriever_spark.operators.seen import (
    anti_join_seen,
    filter_unseen,
    mark_seen,
)
from publicationsretriever_spark.plans.dataset import (
    PAYLOAD_SCHEMA,
    build_training_dataset,
)
from publicationsretriever_spark.plans.rounds import CrawlEngine
from publicationsretriever_spark.sources.imagecodec import make_payload_row
from publicationsretriever_spark.sources.synthetic_web import SyntheticWeb

from tracing import Spans, TimedCatalog

MAX_HAMMING = 2  # build_training_dataset's default near-dup radius
PAYLOAD_COLS = ("image_id", "bytes", "w", "h", "fmt", "caption", "phash")


def _ckpt(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# crawl_zipf_resume
# ---------------------------------------------------------------------------


def _result_keys(rows) -> list[tuple]:
    return sorted(
        (r["id"], r["sourceUrl"], r["docOrDatasetUrl"], r["round"]) for r in rows
    )


class _SketchTimedEngine(CrawlEngine):
    """Times the seen-sketch maintenance at each round close (the
    catalog path keeps no ledger entry for it)."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.sketch_s = 0.0

    def _maintain_seen_sketch(self, *args, **kwargs):
        t0 = time.time()
        try:
            return super()._maintain_seen_sketch(*args, **kwargs)
        finally:
            self.sketch_s += time.time() - t0


class CrawlZipfResume:
    """Host i of the web has PAGES_MAX/(i+1) pages, so at QUOTA the hot
    hosts spill into the next round. Both seen-set thresholds are 1:
    round 0 takes the exact path and builds the sketch at its close,
    round 1 takes the sharded-sketch path. Compaction keeps the engine's
    default cadence, so round 1 is a plain delta commit."""

    N_HOSTS, PAGES_MAX, QUOTA = 8, 160, 50
    ROUNDS = 2

    def __init__(self, spark, seed: int, workdir: Path, cores: int, spans: Spans):
        self.spark, self.seed, self.workdir = spark, seed, workdir
        self.cores, self.spans = cores, spans
        self.base_catalog = workdir / "catalog-round0"
        self.n_jobs = 0

    def _engine(self) -> _SketchTimedEngine:
        return _SketchTimedEngine(
            self.spark, self.web, num_buckets=self.cores, host_quota=self.QUOTA,
            bloom_threshold=1, sharded_threshold=1,
        )

    def _oracle(self) -> dict:
        """The sequential oracle's results multiset and seen set."""
        web = self.web
        verdicts = compute_verdicts(self.spark, all_urls_of_web(web), web)
        seeds = [(sid, n, u) for n, (sid, u) in enumerate(web.seeds)]
        oracle = crawl_oracle(web, verdicts, seeds, max_rounds=self.ROUNDS,
                              host_quota=self.QUOTA)
        return {"results": _result_keys(oracle.results), "seen": oracle.seen}

    def setup(self) -> dict:
        spark, sp = self.spark, self.spans
        self.web = SyntheticWeb(
            seed=self.seed, n_hosts=self.N_HOSTS,
            pages_per_host_max=self.PAGES_MAX,
        )
        seeds = self.web.seeds_df(spark)
        # the oracle is check input; it runs beside the warm-up, whose
        # rounds leave most executor slots idle
        with ThreadPoolExecutor(max_workers=1) as pool, sp.span("setup.warm_up"):
            oracle = pool.submit(self._oracle)
            # round 0 and the kill: catalog write, exact seen path, the
            # sketch build at the round close
            cat = TimedCatalog(str(self.base_catalog))
            with sp.span("setup.round0"):
                self._engine().crawl(seeds, max_rounds=1, catalog=cat)
            with sp.span("setup.resume_load"):  # no round left to run
                self._engine().crawl(
                    None, max_rounds=1, catalog=cat, resume=True
                ).results.collect()
            with sp.span("setup.sharded_probe"):  # the path round 1 takes
                keys = spark.range(0, 64).select(F.xxhash64("id").alias("url_hash"))
                mark_seen(keys, keys.limit(8), seen_count=8, bloom_threshold=1,
                          sharded_threshold=1).collect()
            self.oracle = oracle.result()
        return {"seed_urls": len(self.web.seeds), "hosts": self.N_HOSTS,
                "pages_per_host_max": self.PAGES_MAX,
                "responses": len(self.web.responses)}

    def job(self) -> dict:
        root = self.workdir / f"catalog-job{self.n_jobs}"
        self.n_jobs += 1
        shutil.copytree(self.base_catalog, root)
        cat = TimedCatalog(str(root))
        engine = self._engine()
        t0 = time.time()
        state = engine.crawl(None, max_rounds=self.ROUNDS, catalog=cat, resume=True)
        results = state.results.collect()
        return {"wall": time.time() - t0, "catalog": cat, "state": state,
                "results": results, "round": state.metrics[-1],
                "sketch_s": engine.sketch_s}

    def check(self, jobs: list[dict]) -> tuple[int, int, list[str]]:
        """Results multiset and seen set against the sequential oracle;
        every fetched payload decodes to its ingest phash and carries its
        source caption."""
        web = self.web
        failed, errors = 0, []
        for job in jobs:
            state = job["state"]
            seen = {r[0] for r in state.seen.collect()}
            ids = [r[0] for r in state.payloads.distinct().collect()]
            fetched = web.payloads_df(self.spark).filter(F.col("image_id").isin(ids))
            decoded = fetched.join(decode_image_metrics(fetched), "image_id").select(
                "image_id", "caption", "decode_ok",
                (F.col("phash_check") == F.col("phash")).alias("phash_ok"),
            ).collect()
            payloads_ok = len(decoded) == len(ids) > 0 and all(
                r["decode_ok"] and r["phash_ok"]
                and r["caption"] == f"caption of {r['image_id']}"
                for r in decoded
            )
            if len(state.metrics) != self.ROUNDS:
                errors.append(f"crawl ran {len(state.metrics)} rounds")
            elif (_result_keys(job["results"]) != self.oracle["results"]
                  or seen != self.oracle["seen"]):
                errors.append("results or seen set differ from the oracle")
            elif not payloads_ok:
                errors.append("a fetched payload failed decode or caption")
            else:
                continue
            failed += 1
        return len(jobs), failed, errors

    def metrics(self, jobs: list[dict]) -> dict:
        return {
            "job_p50_s": statistics.median(j["round"]["wall_sec"] for j in jobs),
            "urls_per_s": sum(j["round"]["fetched"] for j in jobs)
            / sum(j["wall"] for j in jobs),
        }

    def layers(self, jobs: list[dict]) -> dict:
        """The resumed round's ledger and catalog timings, per round."""
        n = len(jobs)
        rounds = [j["round"] for j in jobs]
        phases = [r["driver_phases"] for r in rounds]

        def cut(*names):
            return sum(p["cuts"].get(c, 0.0) for p in phases for c in names) / n

        fetched = sum(r["fetched"] for r in rounds)
        errors = sum(
            c["errors"] or 0 for r in rounds for c in r["fetch_counters"].values()
        )
        cats = [j["catalog"] for j in jobs]
        return {
            "plans.rounds.construct_s": sum(p["construct"] for p in phases) / n,
            "plans.rounds.close_s": sum(
                r["wall_sec"] - p["construct"] - sum(p["cuts"].values())
                for r, p in zip(rounds, phases)
            ) / n,
            "functions.staged_s": cut("staged"),
            "functions.links_s": cut("pages", "links"),
            "functions.reject_ratio": sum(r["rejected"] for r in rounds)
            / max(1, sum(r["frontier_in"] for r in rounds)),
            "operators.seen.mark_s": cut("marked"),
            "operators.seen.sketch_s": sum(j["sketch_s"] for j in jobs) / n,
            "operators.besturl.sched_s": cut("ranked", "sched"),
            "sources.fetch.fetch_s": cut("fetch"),
            "sources.fetch.fetched": fetched / n,
            "sources.fetch.error_ratio": errors / max(1, fetched),
            "sources.catalog.write_s": sum(c.write_s for c in cats) / n,
            "sources.catalog.commit_s": sum(c.commit_s for c in cats) / n,
            "sources.catalog.load_s": sum(c.load_s for c in cats) / n,
            "sources.catalog.bytes_written": sum(
                c.bytes_written() for c in cats
            ) / n,
        }

    def trace_extra(self) -> tuple[dict, int, int, list[str]]:
        return {}, 0, 0, []

    def round_windows(self) -> list[tuple[float, float]]:
        return self.spans.windows("job")


# ---------------------------------------------------------------------------
# frontier_load
# ---------------------------------------------------------------------------


#: the ten URL kinds of tools/scaling_worker.py: documents, handles,
#: doi links, session ids, social, login, css and landing pages
URL_TEMPLATES = (
    "https://{host}/files/{id}/fulltext.pdf",
    "https://{host}/article/download/{id}",
    "https://{host}/handle/123/{id}",
    "https://doi.org/10.1234/x.{id}",
    "https://{host}/article/{id}?jsessionid=AB{id}&p=2",
    "https://www.facebook.com/p/{id}",
    "https://{host}/login",
    "https://{host}/css/s{id}.css",
    "https://{host}/",
    "https://{host}/article/{id}",
)


def _url_of(seed: int):
    """(kind, url) expressions over a ``spark.range`` id: 500 hosts with
    skewed sizes (host index 500*u^3 for uniform u: host0 gets ~13% of
    the rows) and a uniform URL kind."""
    rid = F.col("id")
    u = F.pmod(F.xxhash64(rid, F.lit(seed)), F.lit(1 << 20)) / float(1 << 20)
    host = F.concat(
        F.lit("host"), (F.pow(u, 3) * 500).cast("int"), F.lit(".example.org")
    )
    kind = F.pmod(F.xxhash64(rid, F.lit(seed + 1)), F.lit(len(URL_TEMPLATES)))
    template = F.element_at(F.array(*map(F.lit, URL_TEMPLATES)), (kind + 1).cast("int"))
    url = F.replace(
        F.replace(template, F.lit("{host}"), host), F.lit("{id}"), rid.cast("string")
    )
    return kind, url


def seed_batch(spark, n: int, seed: int, parts: int) -> DataFrame:
    """``n`` seed rows (id, order_in_id, url, depth, kind), ~3 urls per
    id."""
    rid = F.col("id")
    _, url = _url_of(seed)
    return spark.range(0, n, 1, parts).select(
        F.pmod(F.xxhash64(rid, F.lit(seed + 2)), F.lit(n // 3 + 1))
        .cast("string").alias("id"),
        rid.alias("order_in_id"),
        url.alias("url"),
        F.lit(0).alias("depth"),
        F.lit("seed").alias("kind"),
    )


def seen_table(spark, n: int, seed: int, parts: int) -> DataFrame:
    """Seen hashes: a quarter of the batch's already-canonical urls
    (kinds 0 and 9) plus n/10 hashes of urls outside the batch."""
    kind, url = _url_of(seed)
    rid = F.col("id")
    hit = spark.range(0, n, 1, parts).filter(
        ((kind == 0) | (kind == 9))
        & (F.pmod(F.xxhash64(rid, F.lit(seed + 3)), F.lit(4)) == 0)
    ).select(F.xxhash64(url).alias("url_hash"))
    miss = spark.range(0, n // 10, 1, parts).select(
        F.xxhash64(F.concat(F.lit("https://seen.example.net/"), rid, F.lit(seed)))
        .alias("url_hash")
    )
    return hit.unionByName(miss)


def payload_rows(n: int, seed: int, reupload_share: float = 0.2) -> list[dict]:
    """``n`` originals (32x32 PNG) plus re-uploads: exact copies under a
    new id, every other one with a conflicting caption."""
    rows = [make_payload_row(f"img-{seed}-{i:06d}", w=32, h=32) for i in range(n)]
    picks = random.Random(seed).sample(range(n), int(n * reupload_share))
    for j, i in enumerate(picks):
        copy = dict(rows[i], image_id=f"re-{seed}-{j:06d}")
        if j % 2:
            copy["caption"] = f"another caption of {rows[i]['image_id']}"
        rows.append(copy)
    return rows


def expected_dataset(rows: list[dict]) -> dict[str, int]:
    """Clusters (phash Hamming distance <= MAX_HAMMING, transitively)
    and clusters with more than one caption. Two hashes that close
    agree exactly on at least one of MAX_HAMMING+1 bit bands, so only
    band-mates are compared."""
    parent = list(range(len(rows)))

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    hashes = [r["phash"] & (2**64 - 1) for r in rows]
    width = -(-64 // (MAX_HAMMING + 1))
    for b in range(MAX_HAMMING + 1):
        bands: dict[int, list[int]] = {}
        for i, h in enumerate(hashes):
            bands.setdefault((h >> (b * width)) & (2**width - 1), []).append(i)
        for mates in bands.values():
            for x, i in enumerate(mates):
                for j in mates[x + 1:]:
                    if bin(hashes[i] ^ hashes[j]).count("1") <= MAX_HAMMING:
                        parent[find(i)] = find(j)
    captions: dict[int, set] = {}
    for i, r in enumerate(rows):
        captions.setdefault(find(i), set()).add(r["caption"])
    return {
        "pairs": len(captions),
        "audit_rejects": 0,
        "conflicts": sum(1 for c in captions.values() if len(c) > 1),
    }


def _fingerprint(df: DataFrame) -> tuple:
    """(row count, sum of per-row 64-bit hashes): equal for equal row
    multisets, and unequal for different ones but with odds of 2^-64."""
    row = df.select(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")),
    ).first()
    return tuple(row)


class FrontierLoad:
    """A per-round fixed-cost change must leave this workload unchanged."""

    N_URLS = 100_000
    WARM_URLS = 5_000
    N_PAYLOADS = 4_000  # traced run only, plus 20% re-uploads

    def __init__(self, spark, seed: int, workdir: Path, cores: int, spans: Spans):
        self.spark, self.seed, self.cores, self.spans = spark, seed, cores, spans
        self.parts = 4 * cores

    def _inputs(self, n: int, seed: int) -> tuple[DataFrame, DataFrame, int]:
        seeds = _ckpt(seed_batch(self.spark, n, seed, self.parts))
        seen = _ckpt(seen_table(self.spark, n, seed, self.parts))
        return seeds, seen, seen.count()

    @staticmethod
    def _dedup(staged: DataFrame) -> DataFrame:
        ok = staged.filter(F.col("reject_reason").isNull())
        w = Window.partitionBy("url_hash").orderBy("order_in_id", "id")
        return ok.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)

    @staticmethod
    def _schedule(unseen: DataFrame) -> DataFrame:
        best = pick_best_url_per_id(unseen).filter(F.col("is_best"))
        wq = Window.partitionBy("top3").orderBy("priority", "url_hash")
        return best.withColumn("_slot", F.row_number().over(wq)).select(
            "id", "url_hash", "top3", "_slot"
        )

    def _load(self, seeds: DataFrame, seen: DataFrame, seen_n: int) -> dict:
        """The load stage, cut after each layer as a crawl round cuts it."""
        sp = self.spans
        t0 = time.time()
        with sp.span("functions.staged"):
            staged = _ckpt(self.engine.prepare_frontier(seeds, round_no=0))
        with sp.span("operators.seen.sketch"):
            # the bloom sketch is built and collected here, eagerly
            unseen = filter_unseen(
                self._dedup(staged), seen, "url_hash", seen_count=seen_n,
                bloom_threshold=seen_n // 2,
            )
        with sp.span("operators.seen.mark"):
            unseen = _ckpt(unseen)
        with sp.span("operators.besturl.sched"):
            sched = _ckpt(self._schedule(unseen))
        return {"wall": time.time() - t0, "staged": staged, "sched": sched}

    def setup(self) -> dict:
        self.engine = CrawlEngine(
            self.spark, SyntheticWeb(seed=self.seed, n_hosts=2, pages_per_host_max=2),
            num_buckets=self.cores,
        )
        self.seeds, self.seen, self.seen_n = self._inputs(self.N_URLS, self.seed)
        with self.spans.span("setup.warm_up"):
            self._load(*self._inputs(self.WARM_URLS, self.seed + 1))
        return {"seed_urls": self.N_URLS, "seen_hashes": self.seen_n}

    def job(self) -> dict:
        return self._load(self.seeds, self.seen, self.seen_n)

    def check(self, jobs: list[dict]) -> tuple[int, int, list[str]]:
        """Scheduled rows against the exact anti-join path; a seeded
        sample of canonical urls against the pure-Python canonicalizer."""
        failed, errors = 0, []
        for job in jobs:
            exact = self._schedule(anti_join_seen(self._dedup(job["staged"]), self.seen))
            same = _fingerprint(job["sched"]) == _fingerprint(exact)
            sample = job["staged"].filter(F.col("reject_reason").isNull()).sample(
                fraction=0.002, seed=self.seed
            ).select("clean_url", "canon_url").collect()
            canon_ok = bool(sample) and all(
                canonicalize_one(r["clean_url"]) == r["canon_url"] for r in sample
            )
            if not (same and canon_ok):
                errors.append(f"load: exact path equal={same}, canon sample ok={canon_ok}")
                failed += 1
        return len(jobs), failed, errors

    def metrics(self, jobs: list[dict]) -> dict:
        walls = [j["wall"] for j in jobs]
        return {
            "job_p50_s": statistics.median(walls),
            "urls_per_s": self.N_URLS * len(jobs) / sum(walls),
        }

    def layers(self, jobs: list[dict]) -> dict:
        sp, n = self.spans, len(jobs)
        rejected = jobs[-1]["staged"].filter(F.col("reject_reason").isNotNull()).count()
        return {
            "functions.staged_s": sp.total("functions.staged", "job") / n,
            "functions.reject_ratio": rejected / self.N_URLS,
            "operators.seen.mark_s": sp.total("operators.seen.mark", "job") / n,
            "operators.seen.sketch_s": sp.total("operators.seen.sketch", "job") / n,
            "operators.besturl.sched_s": sp.total("operators.besturl.sched", "job") / n,
        }

    def trace_extra(self) -> tuple[dict, int, int, list[str]]:
        """The dataset plan over generated payloads: the whole
        ``build_training_dataset`` with its three tables materialized and
        counted against ``expected_dataset``, then each step on its own
        over the same input."""
        spark, sp = self.spark, self.spans
        rows = payload_rows(self.N_PAYLOADS, self.seed)
        payloads = _ckpt(spark.createDataFrame(
            [tuple(r[c] for c in PAYLOAD_COLS) for r in rows], PAYLOAD_SCHEMA
        ))
        t0 = time.time()
        tables = {
            name: _ckpt(df)
            for name, df in build_training_dataset(spark, payloads).items()
        }
        pairs_per_s = len(rows) / (time.time() - t0)
        got = {name: df.count() for name, df in tables.items()}
        want = expected_dataset(rows)
        errors = [] if got == want else [f"dataset {got} != expected {want}"]
        with sp.span("plans.dataset.decode"):
            decode_image_metrics(payloads).write.format("noop").mode("overwrite").save()
        with sp.span("plans.dataset.cluster"):
            assign = _ckpt(image_dedup_assign(payloads, max_hamming=MAX_HAMMING))
        with sp.span("plans.dataset.vote_split"):
            vote = canonicalize_clusters(
                payloads.join(assign.select("image_id", "cluster_id"), "image_id")
                .select("image_id", "cluster_id", "caption"),
                "cluster_id", "image_id", ["caption"],
            )
            cluster_safe_split(vote, "cluster_id").write.format("noop").mode(
                "overwrite"
            ).save()
        layers = {
            f"plans.dataset.{s}_s": sp.total(f"plans.dataset.{s}")
            for s in ("decode", "cluster", "vote_split")
        }
        layers["plans.dataset.pairs_per_s"] = pairs_per_s
        return layers, 1, len(errors), errors

    def round_windows(self) -> list[tuple[float, float]]:
        return []


WORKLOADS = {
    "crawl_zipf_resume": CrawlZipfResume,
    "frontier_load": FrontierLoad,
}
