"""Persisted IVF×PQ index artifact (operators/ann_index.py).

Build-once/search-many is the production ANN contract; these tests pin
the three properties that make the artifact trustworthy: a disk reload
is bit-identical to the build (so cached and fresh queries agree), the
encoded lists cover the corpus exactly once, and the probed search is a
partition-PRUNED scan of only its nprobe list directories.
"""

from __future__ import annotations

import numpy as np
import pytest

from xml_hive_spark.operators import all_queries, t
from xml_hive_spark.operators import ann_index


@pytest.fixture()
def built(spark, sf_dir):
    idx = ann_index.ivf_pq_index(spark, sf_dir)
    return idx


class TestArtifact:
    def test_lists_cover_corpus_exactly_once(self, spark, sf_dir, built):
        emb = t(spark, sf_dir, "embeddings")
        n = emb.count()
        lists = built.lists(spark)
        assert lists.count() == n
        assert lists.select("vec_id").distinct().count() == n
        # every row carries 16 nibble codes (8 bytes → 16 hex digits)
        bad = lists.filter("length(hx) <> 16").count()
        assert bad == 0

    def test_disk_reload_bit_identical_and_training_skipped(
        self, spark, sf_dir, built, monkeypatch
    ):
        """Second process (simulated by clearing the memory cache) must
        load the artifact without re-training — and get the same model."""
        ann_index._MEM_CACHE.clear()

        def boom(*a, **kw):  # any re-train is a cache miss → fail
            raise AssertionError("index rebuilt despite disk artifact")

        from xml_hive_spark.operators import similarity

        monkeypatch.setattr(similarity, "train_kmeans_centroids", boom)
        monkeypatch.setattr(similarity, "train_pq_codebooks", boom)
        reloaded = ann_index.ivf_pq_index(spark, sf_dir)
        assert np.array_equal(reloaded.centroids, built.centroids)
        assert np.array_equal(reloaded.books, built.books)
        assert reloaded.lists_path == built.lists_path

    def test_key_changes_with_params(self, sf_dir):
        k1 = ann_index._corpus_key(sf_dir, 16, 3)
        k2 = ann_index._corpus_key(sf_dir, 8, 3)
        assert k1 is not None and k1 != k2
        assert ann_index._index_dir(k1) != ann_index._index_dir(k2)


class TestProbedSearchPlan:
    def test_probe_scan_is_partition_pruned(self, spark, sf_dir, built):
        """The probed query's list scan must carry PartitionFilters on
        ``cluster`` — the inverted-list seek — not a full-index read."""
        df = all_queries()["cosine_topk_ivf_pq_probed"].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        # the pruning predicate mentions the partition column
        import re

        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "cluster" in m.group(1), m.group(0) if m else plan

    def test_probed_results_stable_across_cache_states(self, spark, sf_dir):
        """Fresh-build and artifact-load invocations return identical
        rows (training is seeded, so the index is deterministic)."""
        fn = all_queries()["cosine_topk_ivf_pq_probed"].fn
        first = sorted(map(tuple, fn(spark, sf_dir).collect()))
        ann_index._MEM_CACHE.clear()
        second = sorted(map(tuple, fn(spark, sf_dir).collect()))
        assert first == second


class TestArtifactRecovery:
    def test_corrupt_destination_yields_usable_fresh_index(self, spark, sf_dir):
        """A half-reaped/corrupt artifact occupying the cache slot must
        not poison queries: the rebuild's rename fails (destination
        non-empty), _load fails (garbage model), and the fresh build is
        served from its tmp dir — model and lists from ONE build. Two
        corpses: a garbage model with no lists (``_load`` stops at the
        lists check), and real list parquet beside a truncated model
        (``_load`` reaches ``np.load`` and its ``except``)."""
        import io
        import shutil
        import zipfile
        from pathlib import Path

        import pyarrow as pa
        import pyarrow.parquet as pq

        from xml_hive_spark.operators import t

        key = ann_index._corpus_key(sf_dir, 16, 3)
        out = ann_index._index_dir(key)
        npz = io.BytesIO()
        np.savez(npz, centroids=np.zeros((2, 4)), books=np.zeros((1, 2, 4)))
        for with_lists in (False, True):
            ann_index._MEM_CACHE.clear()
            shutil.rmtree(out, ignore_errors=True)
            for stray in out.parent.glob(f"{out.name}.tmp*"):
                shutil.rmtree(stray, ignore_errors=True)  # pre-fix leftovers
            out.mkdir(parents=True)
            if with_lists:
                (out / "lists" / "cluster=0").mkdir(parents=True)
                pq.write_table(pa.table({"vec_id": [0], "hx": ["00"]}),
                               out / "lists" / "cluster=0" / "part-0.parquet")
                (out / "model.npz").write_bytes(npz.getvalue()[:len(npz.getvalue()) // 2])
                with pytest.raises(zipfile.BadZipFile):
                    np.load(out / "model.npz")
                assert ann_index._load(out) is None
            else:
                (out / "model.npz").write_bytes(b"this is not a numpy archive")
            (out / "junk").write_text("reaper leftovers")  # rename must fail

            idx = ann_index.ivf_pq_index(spark, sf_dir)
            n = t(spark, sf_dir, "embeddings").count()
            assert Path(idx.lists_path).exists()
            assert idx.lists(spark).count() == n
            # the slot must have been REPAIRED: the fresh build now occupies
            # the cache path itself (no stranded tmp index)
            assert Path(idx.lists_path).parent == out
            leftovers = [p for p in out.parent.glob(f"{out.name}.tmp*")]
            assert not leftovers, leftovers
            # and the query built on it still answers
            got = all_queries()["cosine_topk_ivf_pq_probed"].fn(spark, sf_dir)
            assert got.count() == 25
        # reset so later tests rebuild a clean artifact
        ann_index._MEM_CACHE.clear()
        shutil.rmtree(out, ignore_errors=True)

    def test_partially_reaped_lists_trigger_rebuild(self, spark, sf_dir):
        """model.npz intact but lists/ deleted by a tmp cleaner: _load()
        must report the artifact unusable so ivf_pq_index falls through
        to a rebuild, instead of serving (and memo-caching) an index
        whose every lists(spark) scan dies on a missing parquet path."""
        import shutil
        from pathlib import Path

        ann_index._MEM_CACHE.clear()
        idx = ann_index.ivf_pq_index(spark, sf_dir)  # clean build
        out = Path(idx.lists_path).parent
        shutil.rmtree(idx.lists_path)  # the reaper strikes

        assert ann_index._load(out) is None  # unusable, not served
        ann_index._MEM_CACHE.clear()
        n = t(spark, sf_dir, "embeddings").count()
        rebuilt = ann_index.ivf_pq_index(spark, sf_dir)
        assert rebuilt.lists(spark).count() == n
        ann_index._MEM_CACHE.clear()
        shutil.rmtree(out, ignore_errors=True)
