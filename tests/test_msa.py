"""Center-star MSA consensus (operators/msa.py) — kernel goldens, the
once-a-gap-always-a-gap merge, vote tie rules, determinism, and the Spark
``cluster_representatives(method="msa")`` twin vs the in-memory kernel."""

import numpy as np
import pandas as pd
import pytest

from dynaalign_spark.operators.align import GAP, get_substitution_matrix
from dynaalign_spark.operators.msa import (
    _center_index,
    _subset_indices,
    center_star_consensus,
    center_star_rows,
    consensus_from_rows,
)

SUB = get_substitution_matrix("IDENTITY")


def _render(rows):
    return ["".join("-" if v < 0 else chr(v) for v in r) for r in rows]


def test_identical_members_consensus_is_the_string():
    cons, center = center_star_consensus(["hello world"] * 7)
    assert cons == "hello world"
    assert center == 0  # first-argmax on the all-tie medoid


def test_singleton_and_empty():
    assert center_star_consensus(["only"]) == ("only", 0)
    assert center_star_consensus([]) == ("", -1)


def test_indel_cluster_recovers_clean_string():
    # one prefix insertion, one transposition, one deletion: the aligned
    # column vote recovers the clean caption (the alignment-free vote at
    # median length smears the shifted member across every position)
    caps = [
        "the quick brown fox",
        "the quick brown fox",
        "the quikc brown fox",
        "Xthe quick brown fox",
        "the quick brwn fox",
    ]
    cons, center = center_star_consensus(caps)
    assert cons == "the quick brown fox"
    rows = center_star_rows(caps, center, SUB)
    rendered = _render(rows)
    # the merge padded every row to one width, prefix-insertion member intact
    assert len({len(r) for r in rendered}) == 1
    assert rendered[3].replace("-", "") == "Xthe quick brown fox"
    # gap-stripped rows reproduce the inputs exactly (projection is lossless)
    assert [r.replace("-", "") for r in rendered] == caps


def test_once_a_gap_always_a_gap_slot_is_max_over_members():
    # two members insert different amounts at the same slot: the master
    # center row must carry max(ins) gap columns there, left-aligned
    # (flanks long enough that the interior insertion is strictly optimal —
    # short flanks make the boundary-gap alignment an exact affine-score
    # tie, and the reference's positional traceback then legally shifts the
    # gap run to the boundary)
    caps = ["abcdefgh", "abcdXefgh", "abcdYYYefgh"]
    center = 0
    rows = center_star_rows(caps, center, SUB)
    rendered = _render(rows)
    assert rendered[0] == "abcd---efgh"
    assert rendered[1] == "abcdX--efgh"
    assert rendered[2] == "abcdYYYefgh"
    # insertion col 1: [-, X, Y] -> count-tie, smallest byte X survives;
    # cols 2-3: gap strict majority -> dropped
    assert consensus_from_rows(rows) == "abcdXefgh"


def test_vote_tie_char_beats_gap_and_smallest_byte_wins():
    # column of [a, b]: tie -> smallest byte 'a'
    rows = np.array([[ord("a")], [ord("b")]], dtype=np.int16)
    assert consensus_from_rows(rows) == "a"
    # column of [a, gap]: tie -> char beats gap
    rows = np.array([[ord("a")], [GAP]], dtype=np.int16)
    assert consensus_from_rows(rows) == "a"
    # gap strictly wins -> column dropped
    rows = np.array([[ord("a")], [GAP], [GAP]], dtype=np.int16)
    assert consensus_from_rows(rows) == ""


def test_consensus_insensitive_to_member_order():
    caps = [
        "common caption text",
        "common caption text",
        "common captoin text",
        "Zcommon caption text",
    ]
    base, _ = center_star_consensus(caps)
    for perm in ([3, 2, 1, 0], [1, 3, 0, 2]):
        got, _ = center_star_consensus([caps[i] for i in perm])
        assert got == base


def test_center_is_alignment_medoid():
    # 'abcdef' scores higher in total than the two divergent members
    caps = ["XXXXef", "abcdef", "abcdYY"]
    assert _center_index(caps, SUB, 10, 4) == 1


def test_subset_cap_is_deterministic_spread():
    idx = _subset_indices(100, 10)
    assert len(idx) == 10 and idx[0] == 0 and idx[-1] == 99
    assert np.array_equal(idx, _subset_indices(100, 10))
    assert np.array_equal(_subset_indices(5, 10), np.arange(5))


def test_empty_member_aligns_as_all_gaps():
    cons, _ = center_star_consensus(["abc", "abc", ""])
    assert cons == "abc"


def test_large_cluster_capped_but_sized_fully():
    caps = ["repeated caption"] * 200
    cons, center = center_star_consensus(caps, max_members=16)
    assert cons == "repeated caption"
    assert 0 <= center < 200


@pytest.fixture(scope="module")
def spark():
    from dynaalign_spark.session import get_spark

    s = get_spark(master="local[4]", shuffle_partitions=4)
    yield s


def test_spark_msa_matches_inmemory_kernel(spark):
    """The distributed bucketed applyInPandas must reproduce the in-memory
    kernel exactly — partitioning/bucketing must not change output."""
    from dynaalign_spark.operators.consensus import cluster_representatives

    data = [
        ("i01", "c1", "the quick brown fox"),
        ("i02", "c1", "the quick brown fox"),
        ("i03", "c1", "Xthe quick brown fox"),
        ("i04", "c1", "the quikc brown fox"),
        ("i05", "c2", "lonely caption"),
        ("i06", "c3", "pair one caption"),
        ("i07", "c3", "pair one captoin"),
    ]
    clusters = spark.createDataFrame(
        [(i, c) for i, c, _ in data], "image_id string, cluster_id string"
    )
    images = spark.createDataFrame(
        [(i, t) for i, _, t in data], "image_id string, caption string"
    )
    got = {
        r["cluster_id"]: (r["consensus_caption"], r["exemplar_image_id"], r["size"])
        for r in cluster_representatives(
            clusters, images, method="msa"
        ).collect()
    }
    # in-memory expectation via the same deterministic kernel
    pdf = pd.DataFrame(data, columns=["image_id", "cluster_id", "caption"])
    want = {}
    for cid, g in pdf.groupby("cluster_id"):
        g = g.sort_values("image_id").reset_index(drop=True)
        cons, center = center_star_consensus(g["caption"].tolist())
        want[cid] = (cons, g["image_id"].iloc[max(center, 0)], len(g))
    assert got == want
    assert got["c1"][0] == "the quick brown fox"
    assert got["c2"] == ("lonely caption", "i05", 1)


def test_msa_golden_drift_gate(spark):
    """A fresh q_cluster_consensus_msa run at sf0.01 must reproduce the
    committed golden exactly (tests/golden/msa_consensus_sf001.json — the
    driver's value oracle for cluster_consensus_msa). Deterministic
    pipeline: frozen seeds, id-sorted members, first-argmax tie-breaks."""
    import json
    import os

    import __spark_entry__ as entrymod

    golden_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tests", "golden", "msa_consensus_sf001.json",
    )
    want = sorted(tuple(r) for r in json.load(open(golden_path)))
    rows = entrymod.q_cluster_consensus_msa(
        spark, "/root/testdata/sf0.01"
    ).collect()
    got = sorted(
        (r["cluster_id"], r["consensus_caption"], r["exemplar_image_id"],
         r["size"])
        for r in rows
    )
    assert got == want
    # non-degeneracy: multi-member clusters exist and their consensus is
    # non-empty
    multi = [r for r in got if r[3] > 1]
    assert multi and all(r[1] for r in multi)


def test_msa_golden_oracle_empty_golden_is_no_oracle(monkeypatch):
    """An empty golden list yields no oracle (None, rows-only fallback)
    instead of `values ()`, which is not valid SQL; a non-empty golden
    still yields the VALUES query."""
    import json

    import __spark_entry__ as entrymod

    monkeypatch.setenv("DYNA_ORACLE_SF_DIR", "/data/sf0.01")
    sql = entrymod._duck_msa_golden()
    assert sql is not None and "from (values (" in sql
    monkeypatch.setattr(json, "load", lambda f: [])
    assert entrymod._duck_msa_golden() is None


def test_spark_msa_rejects_unknown_method(spark):
    from dynaalign_spark.operators.consensus import cluster_representatives

    clusters = spark.createDataFrame([("a", "c")], "image_id string, cluster_id string")
    images = spark.createDataFrame([("a", "t")], "image_id string, caption string")
    with pytest.raises(ValueError):
        cluster_representatives(clusters, images, method="nope")
