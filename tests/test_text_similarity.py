"""Image near-duplicate similarity: the banded perceptual-hash join."""

from __future__ import annotations

class TestPhashNearDup:
    def test_banded_join_equals_brute_force_at_h3(self, spark):
        """Pigeonhole completeness: at max_hamming=3 with 4 bands the LSH
        prune is loss-free — the banded join returns exactly the brute-force
        pair set, including planted pairs at distances 0..3 and excluding a
        4-bit pair that differs in every band."""
        import itertools

        import numpy as np

        from gridfia_spark.operators import phash as ph

        rng = np.random.default_rng(42)
        hashes = {f"h{i:03d}": rng.integers(0, 1 << 16, size=4) for i in range(40)}
        base = hashes["h000"].copy()
        hashes["p0"] = base.copy()                        # distance 0
        for d in (1, 2, 3):                               # distance d in one band
            hh = base.copy()
            hh[0] ^= (1 << d) - 1
            hashes[f"p{d}"] = hh
        spread = base.copy()                              # distance 4, all bands
        for i in range(4):
            spread[i] ^= 1
        hashes["p4"] = spread

        def dist(a, b):
            return sum(int(bin(int(x) ^ int(y)).count("1")) for x, y in zip(a, b))

        want = {
            tuple(sorted((i, j))) + (dist(hashes[i], hashes[j]),)
            for i, j in itertools.combinations(hashes, 2)
            if dist(hashes[i], hashes[j]) <= 3
        }
        bands = spark.createDataFrame(
            [(k, *map(int, v)) for k, v in hashes.items()],
            "image_id string, b0 long, b1 long, b2 long, b3 long",
        )
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in ph.near_dup_pairs(bands, max_hamming=3).collect()
        }
        assert got == want
        assert {("h000", "p0", 0), ("h000", "p1", 1), ("h000", "p2", 2),
                ("h000", "p3", 3)} <= got
        assert not any(a == "p4" or b == "p4" for a, b, _ in got
                       if "h000" in (a, b))
