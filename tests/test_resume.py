"""Resume test (BASELINE.md): kill after round k, resume from snapshot,
final state identical to an uninterrupted run."""

from __future__ import annotations

from publicationsretriever_spark.plans.rounds import CrawlEngine
from publicationsretriever_spark.sources.catalog import SnapshotCatalog
from publicationsretriever_spark.sources.synthetic_web import SyntheticWeb
from test_blocking_conformance import SpillWeb


def _results_key(df):
    return sorted(
        (r["id"], r["sourceUrl"], r["docOrDatasetUrl"], r["round"], r["error"])
        for r in df.collect()
    )


def test_resume_from_snapshot_is_exact(spark, tmp_path):
    web = SyntheticWeb(seed=42, n_hosts=8, pages_per_host_max=10)

    # uninterrupted reference run
    full = CrawlEngine(spark, web, num_buckets=4).crawl(
        web.seeds_df(spark), max_rounds=3
    )

    # interrupted: run only round 0 with checkpointing, then resume
    cat = SnapshotCatalog(str(tmp_path / "cat"))
    CrawlEngine(spark, web, num_buckets=4).crawl(
        web.seeds_df(spark), max_rounds=1, catalog=cat
    )
    assert cat.latest()["round"] == 0
    resumed = CrawlEngine(spark, web, num_buckets=4).crawl(
        None, max_rounds=3, catalog=cat, resume=True
    )

    assert _results_key(resumed.results) == _results_key(full.results)
    assert set(r[0] for r in resumed.seen.collect()) == set(
        r[0] for r in full.seen.collect()
    )
    # lineage recorded per snapshot
    snaps = cat.snapshots()
    assert len(snaps) >= 2
    last = snaps[-1]["lineage"]["last"]
    assert "frontier_offsets" in last and "fetch_counters" in last
    assert last["seen_total"] == len(set(r[0] for r in full.seen.collect()))
    # the final round's ledger is persisted, not only held in memory
    phases = snaps[-1]["lineage"]["rounds"][-1]["driver_phases"]
    assert "construct" in phases and "pooled_ckpt" in phases


def test_catalog_crawl_reads_manifests_at_most_once(spark, tmp_path, monkeypatch):
    """The catalog keeps the latest manifest it loaded or committed: a
    3-round crawl must not rescan the manifests (each embeds the whole
    round lineage) every round."""
    web = SpillWeb()  # the host quota spills work into every round
    scans = []
    manifest_paths = SnapshotCatalog._manifest_paths

    def counted(self):
        scans.append(1)
        return manifest_paths(self)

    monkeypatch.setattr(SnapshotCatalog, "_manifest_paths", counted)
    cat = SnapshotCatalog(str(tmp_path / "cat"))
    state = CrawlEngine(spark, web, num_buckets=4, host_quota=8).crawl(
        web.seeds_df(spark), max_rounds=3, catalog=cat
    )
    assert len(state.metrics) == 3
    assert len(scans) <= 1
