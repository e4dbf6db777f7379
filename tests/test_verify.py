"""verify_pairs unit tests: tier routing + LSH-evidence gates."""

from pyspark.sql import functions as F

from simhash_spark import reference as R
from simhash_spark.operators.verify import verify_pairs


def _profile(spark, rows):
    sigs = R.simhash64_batch([t for _, t in rows])
    data = [
        (cid, R.normalize_text(t), int(s)) for (cid, t), s in zip(rows, sigs)
    ]
    return spark.createDataFrame(data, "clip_id string, norm_text string, simhash long")


def _pairs(spark, rows):
    return spark.createDataFrame(
        rows, "a string, b string, det string, mh_hits long, gram_hits long, starred int"
    )


def test_tier_routing(spark):
    long = " ".join(f"w{i}" for i in range(40))
    core = "unique shared span alpha bravo charlie delta echo foxtrot golf hotel india"
    assert len(core) >= 64
    filler = " ".join(f"zz{i} yy{i} xx{i}" for i in range(30))
    profile = _profile(
        spark,
        [
            ("e1", "same text"),
            ("e2", "same text"),
            ("h1", long),
            ("h2", long.replace("w20", "zz")),          # hamming-close
            ("j1", long),
            ("j2", long.replace("w20", "zz") + " qq rr ss tt uu vv ww xx yy"),  # jaccard-ish
            ("s1", core),
            ("s2", filler + " " + core),                # substring, sigs far apart
            ("n1", "alpha beta gamma"),
            ("n2", "delta epsilon zeta"),               # nothing
        ],
    )
    pairs = _pairs(
        spark,
        [
            ("e1", "e2", "exact", 0, 0, 0),
            ("h1", "h2", "sim", 0, 0, 0),
            ("j1", "j2", "mh", 5, 0, 0),
            ("s1", "s2", "gram", 0, 6, 0),
            ("n1", "n2", "mh", 5, 5, 0),   # gated in but fails every check
        ],
    )
    got = {(r.a, r.b): r.method for r in verify_pairs(pairs, profile).collect()}
    assert got[("e1", "e2")] == "exact"
    assert got[("h1", "h2")] == "hamming"
    assert got[("s1", "s2")] == "substring"
    assert ("n1", "n2") not in got
    assert ("j1", "j2") not in got or got[("j1", "j2")] in ("jaccard", "hamming")


def test_gates_drop_weak_evidence_without_udf(spark):
    """Pairs below both gates never reach tier 2 (they are filtered before
    the text join), even if their texts would actually pass — the LSH
    guarantee says such pairs are ~impossible for true dups."""
    long = " ".join(f"w{i}" for i in range(40))
    profile = _profile(spark, [("a", long), ("b", long + " z")])
    pairs = _pairs(spark, [("a", "b", "mh", 1, 1, 0)])  # 1 hit each, not starred
    # hamming will actually catch this (texts nearly identical) — force
    # the tier-2 path by checking the rest-filter directly instead:
    out = verify_pairs(pairs, profile).collect()
    # the pair passes via hamming (tier 1) — fine; now a true tier-2-only
    # shape with weak evidence:
    profile2 = _profile(
        spark,
        [("c", " ".join(f"w{i}" for i in range(40))),
         ("d", " ".join((f"v{i}" if i % 4 == 0 else f"w{i}") for i in range(40)))],
    )
    pairs2 = _pairs(spark, [("c", "d", "mh", 1, 1, 0)])
    assert verify_pairs(pairs2, profile2).count() == 0


def test_starred_edges_stay_eligible(spark):
    """A starred hot-band edge with a single mh hit must still reach the
    jaccard tier (no pairwise fallback exists for it)."""
    base = " ".join(f"tok{i}" for i in range(50))
    near = base.replace("tok25", "tok9999x")
    profile = _profile(spark, [("hub", base), ("m1", near)])
    pairs = _pairs(spark, [("hub", "m1", "mh", 1, 0, 1)])
    got = verify_pairs(pairs, profile).collect()
    assert len(got) == 1  # verified via hamming or jaccard


def _cid_profile(spark, rows):
    """(cid, clip_id, text) rows with the cid EXPLICIT, so a test can
    inject the xxhash64 collision that is unconstructable from real
    clip_ids (odds ~n^2/2^65)."""
    sigs = R.simhash64_batch([t for _, _, t in rows])
    data = [
        (cid, clip_id, R.normalize_text(t), int(s))
        for (cid, clip_id, t), s in zip(rows, sigs)
    ]
    return spark.createDataFrame(
        data, "cid long, clip_id string, norm_text string, simhash long"
    )


def _cid_pairs(spark, rows):
    return spark.createDataFrame(
        rows, "a long, b long, det string, mh_hits long, gram_hits long, starred int"
    )


def test_cid_mapback_roundtrip(spark):
    """cid-keyed pairs come back as clip_id strings, a < b restored."""
    profile = _cid_profile(
        spark, [(1, "zz-late", "same text"), (2, "aa-early", "same text")]
    )
    pairs = _cid_pairs(spark, [(1, 2, "exact", 0, 0, 0)])
    got = verify_pairs(pairs, profile).collect()
    assert [(r.a, r.b, r.method) for r in got] == [("aa-early", "zz-late", "exact")]


def test_cid_collision_raises_not_corrupts(spark):
    """A cid carried by two clip_ids must FAIL the job, never fan the
    map-back join out into verified pairs between texts that were never
    compared — and the message names no env-var fallback (none exists)."""
    import pytest

    profile = _cid_profile(
        spark,
        [
            (1, "doc-p", "same text"),
            (1, "doc-q", "totally different words"),  # the collision
            (2, "doc-r", "same text"),
        ],
    )
    pairs = _cid_pairs(spark, [(1, 2, "exact", 0, 0, 0)])
    with pytest.raises(Exception, match="(?i)collision") as err:
        verify_pairs(pairs, profile).collect()
    assert "SPARK_GRAFT_" not in str(err.value)
