"""Perception operators (operators/perception.py). The full value
oracles run in tools/verify_local.py and the driver; these tests pin
what the oracle can't see — that the payloads are REAL distinct codec
containers (not shared bytes), that the planted near-dup structure is
what the query finds, and that the resample chain equals the pure
formula end to end. The row kernels are plain Python calls here."""

from __future__ import annotations

import numpy as np

from xml_hive_spark.operators import all_queries
from xml_hive_spark.operators.perception import (
    _phash_bands,
    phash_fingerprint,
    resample_wav,
    synth_mono_wav,
    synth_pair_png,
)


class TestImagePhashDedup:
    def test_pairs_are_planted_structure(self, spark, sf_dir):
        """Every reported pair must be a planted (2k, 2k+1) pair at
        hamming 0, and every complete planted pair must be found —
        zero spurious near-dups under the per-base pixel mixing."""
        rows = all_queries()["image_phash_dedup"].fn(spark, sf_dir).collect()
        docs = {
            r.doc_id
            for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id")
            .collect()
        }
        expected = {
            (d, d + 1) for d in docs if d % 2 == 0 and d + 1 in docs
        }
        got = {(r.doc_a, r.doc_b) for r in rows}
        assert got == expected
        assert all(r.hamming == 0 for r in rows)

    def test_pair_payloads_differ_but_hash_equal(self):
        """The odd member's PNG must be a DIFFERENT byte stream (the
        perturbation really is encoded) whose decoded perceptual hash
        still equals its partner's — the near-dup premise."""
        payloads = dict(row for did in (6, 7) for row in synth_pair_png(did))
        assert payloads[6] != payloads[7]
        assert payloads[6][:8] == b"\x89PNG\r\n\x1a\n"  # real container
        bands = {
            did: tuple(b)
            for doc, payload in payloads.items()
            for did, *b in phash_fingerprint(doc, payload)
        }
        assert bands[6] == bands[7] and len(bands[6]) == 4

    def test_perturbation_positions_never_sampled(self):
        """The sum-neutral perturbation sites p1=1 and p2=(2n)//64+1
        must avoid every sampled position (j·n)//64 for the whole dim
        range n ∈ [144, 224] — the invariant that makes pair hashes
        bit-identical."""
        for n in range(144, 225):
            sampled = {(j * n) // 64 for j in range(64)}
            assert 1 not in sampled
            assert (2 * n) // 64 + 1 not in sampled

    def test_phash_bands_mean_compare(self):
        """Band bits follow the integer mean compare px·n > Σpx."""
        px = np.arange(144, dtype=np.int64) % 256
        bands = _phash_bands(px)
        total, n = int(px.sum()), 144
        for j in range(64):
            bit = (bands[j // 16] >> (j % 16)) & 1
            assert bit == int(int(px[(j * n) // 64]) * n > total)


class TestAudioResample:
    def test_resample_matches_formula(self):
        """decode → decimate → encode → decode equals the closed-form
        adjacent-pair mean of the synthesis formula, per sample."""
        ids = [0, 3, 100, 257]
        out = {
            row[0]: row
            for did in ids
            for doc, payload in synth_mono_wav(did)
            for row in resample_wav(doc, payload)
        }
        for did in ids:
            frames = 128 + did % 101
            k = np.arange(frames, dtype=np.int64)
            u = (did * 48271 + k * 12345) % 65536
            n_out = frames // 2
            dec = (u[: 2 * n_out : 2] + u[1 : 2 * n_out : 2]) // 2 - 32768
            m = np.arange(n_out, dtype=np.int64)
            assert out[did] == (did, n_out, 8000, int(dec.sum()), int((m * dec).sum()))

    def test_intermediate_is_real_wav(self):
        """The synth payload is a spec-valid RIFF/WAVE container."""
        [(_, payload)] = synth_mono_wav(42)
        assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
