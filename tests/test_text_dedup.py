"""Fuzzy-dedup recall: the MinHash-LSH pipeline must recover the pairs
its exact anchor finds.

Both queries measure 3-gram shingle Jaccard at the same 0.5 threshold —
the anchor exactly (within a length-blocked compare set), LSH
approximately (banded signatures). A missed pair can only be an LSH
candidate-generation miss, so the ratio IS the banding recall. MinHash
is deterministic given the data, so this is a fixed number per SF, not
a flaky statistic: 16 bands × 4 rows detect a true 0.5-Jaccard pair
with p≈0.64 at the threshold boundary and p→1 above ~0.7, and the
synthetic near-dups sit far above threshold.
"""

from __future__ import annotations

import pytest


def test_lsh_recall_vs_blocked_anchor(spark, sf_dir):
    from financial_data_warehouse_automation_spark.queries.text import (
        doc_minhash_lsh_pairs,
        doc_shingle_jaccard_blocked,
    )

    brute = {
        (r.id_a, r.id_b)
        for r in doc_shingle_jaccard_blocked(spark, sf_dir).collect()
    }
    lsh = {(r.id_a, r.id_b) for r in doc_minhash_lsh_pairs(spark, sf_dir).collect()}
    assert len(brute) > 0, "anchor found no near-dup pairs — trivial fixture"
    recall = len(brute & lsh) / len(brute)
    assert recall >= 0.9, f"LSH recall {recall:.2f} over {len(brute)} anchor pairs"
    # precision side: every LSH pair is exact-verified at >=0.5, so any
    # pair NOT in the anchor must have slipped the length window
    extras = lsh - brute
    assert len(extras) <= len(lsh) * 0.2


def test_lsh_production_caller_surfaces_cap_metrics(spark, sf_dir):
    """The production LSH query attaches a named Observation so the
    hot-bucket cap — a silent candidate-recall loss when it fires — is
    never invisible (advisor finding, round 8): after the action, the
    PER-BUILD handle ``df.lsh_cap_observation.get`` must report the
    cap counters, zero on this honest corpus. Per-build rather than a
    shared global (r8 advisor): build a SECOND frame before running
    the first — each must keep its own live Observation."""
    from financial_data_warehouse_automation_spark.queries import text as text_q

    df1 = text_q.doc_minhash_lsh_pairs(spark, sf_dir)
    df2 = text_q.doc_minhash_lsh_pairs(spark, sf_dir)
    assert df1.lsh_cap_observation is not df2.lsh_cap_observation
    n = df1.count()
    assert n > 0
    got = df1.lsh_cap_observation.get
    assert got == {"hot_buckets": 0, "pairs_capped": 0}, got


def test_mllib_minhash_pair_count_bounded(spark):
    """The MLlib approxSimilarityJoin must emit a near-dup-sized pair
    set, not an all-pairs join. Round 3 shipped it over saturating
    unigram token sets, where 71% of ALL doc pairs cleared the 0.5
    similarity bar at sf0.01 (88,436 pairs) and growth between SFs was
    ~quadratic — a cluster-killer at scale. Over 3-gram shingles the
    emitted pairs track the planted near-dup population: bounded well
    below n, and not growing quadratically with corpus size."""
    from financial_data_warehouse_automation_spark.queries.text import doc_minhash_mllib
    from financial_data_warehouse_automation_spark.tables import load_table

    counts = {}
    for sf in ("sf0.001", "sf0.01"):
        sf_dir = f"/root/testdata/{sf}"
        n_docs = load_table(spark, sf_dir, "documents").count()
        n_pairs = doc_minhash_mllib(spark, sf_dir).count()
        counts[sf] = (n_docs, n_pairs)
        assert n_pairs < n_docs, (
            f"{sf}: {n_pairs} pairs for {n_docs} docs — pair set should "
            "be near-dup-sized, not all-pairs"
        )
    (d1, p1), (d2, p2) = counts["sf0.001"], counts["sf0.01"]
    # 10x docs must not produce anything like (10x)^2 pairs; allow 2x
    # headroom over linear growth
    assert p2 <= max(p1, 1) * (d2 / d1) * 2, f"superlinear pair growth: {counts}"


def test_hot_bucket_cap_degrades_to_linear_star(spark):
    """A manufactured hot band bucket (many docs sharing one signature,
    the boilerplate-template case) must expand linearly, not
    quadratically: over-cap buckets emit star pairs to the smallest id
    and the Observation reports exactly what was capped."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from financial_data_warehouse_automation_spark.operators.text import lsh_candidate_pairs

    k, bands, rows, cap = 8, 2, 4, 8
    hot_n, cold_sig = 20, [99, 98, 97, 96, 1, 2, 3, 4]
    sig_rows = [(i, [7, 7, 7, 7, 7, 7, 7, 7]) for i in range(hot_n)]
    # a small cold bucket (2 docs) must still all-pair as before
    sig_rows += [(100, cold_sig), (101, cold_sig)]
    sig = spark.createDataFrame(sig_rows, "doc_id long, signature array<long>")

    obs = Observation("lsh_cap")
    pairs = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(
            sig, "doc_id", bands=bands, rows=rows,
            max_bucket=cap, observation=obs,
        ).collect()
    }
    star = {(0, i) for i in range(1, hot_n)}
    assert pairs == star | {(100, 101)}, (
        "hot bucket must star-expand to the smallest id; cold bucket "
        "must keep all-pairs"
    )
    # both bands of the hot signature form the same over-cap bucket;
    # capped edges per band = C(20,2) - 19 = 171
    assert obs.get == {"hot_buckets": 2, "pairs_capped": 342}

    # connectivity preserved: the star keeps every doc reachable, so
    # the downstream connected-components dedup sees ONE cluster
    from financial_data_warehouse_automation_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [p for p in pairs if p != (100, 101)], "src long, dst long"
    )
    verts = spark.createDataFrame([(i,) for i in range(hot_n)], "id long")
    comp = connected_components(verts, edges)
    n_clusters = comp.select("component").distinct().count()
    assert n_clusters == 1


def test_prefix_filter_completeness_vs_blocked_anchor(spark, sf_dir):
    """Prefix filtering is EXACT (AllPairs theorem), so its pair set
    must contain every pair the length-blocked anchor finds — blocking
    can only restrict the compare set further, never widen it. Equal
    jac values on the shared pairs pin that both compute the same
    similarity. The anchor here is the INDEPENDENT quadratic
    bucket-expansion plan (not the registered query, whose round-8
    plan itself runs on prefix-filter candidates)."""
    from financial_data_warehouse_automation_spark.queries.text import (
        _shingle_jaccard_blocked_quadratic,
        doc_jaccard_prefix_filter,
    )

    blocked = {
        (r.id_a, r.id_b): r.jac
        for r in _shingle_jaccard_blocked_quadratic(spark, sf_dir).collect()
    }
    prefix = {
        (r.id_a, r.id_b): r.jac
        for r in doc_jaccard_prefix_filter(spark, sf_dir).collect()
    }
    assert blocked, "anchor found no near-dup pairs — trivial fixture"
    missing = set(blocked) - set(prefix)
    assert not missing, f"prefix filter missed exact pairs: {sorted(missing)[:5]}"
    for pair in blocked:
        assert prefix[pair] == blocked[pair], (pair, prefix[pair], blocked[pair])


def test_blocked_rewrite_equals_quadratic(spark, sf_dir):
    """The registered doc_shingle_jaccard_blocked (round 8: prefix-
    filter candidates + length-window predicate) must be ROW-IDENTICAL
    to the original quadratic bucket-expansion plan — same pairs, same
    jac values. This is the equivalence that let the sweep stop
    SKIPping the query at 10×."""
    from financial_data_warehouse_automation_spark.queries.text import (
        _shingle_jaccard_blocked_quadratic,
        doc_shingle_jaccard_blocked,
    )

    old = {
        (r.id_a, r.id_b): r.jac
        for r in _shingle_jaccard_blocked_quadratic(spark, sf_dir).collect()
    }
    new = {
        (r.id_a, r.id_b): r.jac
        for r in doc_shingle_jaccard_blocked(spark, sf_dir).collect()
    }
    assert old, "anchor found no near-dup pairs — trivial fixture"
    assert new == old


def test_prefix_filter_df_order_kills_stop_shingle_fanout(spark):
    """A corpus-common element (boilerplate shingle shared by EVERY
    doc) must not generate candidates. Under df-ascending order the
    stop element sorts LAST in every doc's ranking, so it never enters
    a prefix (prefix = the |s| div 2 + 1 RAREST elements once docs
    have >2 elements); under the round-6 md5-random order it landed in
    ~half of all prefixes and that one join key expanded to O(n²)
    candidates. Planted true near-dups (sharing rare elements) must
    still surface — any total order preserves the recall theorem."""
    from financial_data_warehouse_automation_spark.operators.text import (
        allpairs_prefix_candidates,
    )

    n = 40
    rows = [
        (i, [f"u{i}a", f"u{i}b", f"u{i}c", "COMMON"]) for i in range(n)
    ]
    # one planted near-dup pair sharing rare elements (Jaccard 1.0)
    rows += [(100, ["x1", "x2", "x3", "COMMON"]),
             (101, ["x1", "x2", "x3", "COMMON"])]
    sets = spark.createDataFrame(rows, "doc_id long, s array<string>")
    cand = {
        (r.id_a, r.id_b)
        for r in allpairs_prefix_candidates(sets, "doc_id", "s").collect()
    }
    assert cand == {(100, 101)}, (
        f"stop shingle leaked into prefixes: {len(cand)} candidates "
        "(md5-random order would give ~190 here)"
    )


def test_prefix_filter_exact_vs_brute(spark):
    """Full-recall check on an adversarial mixed corpus: the prefix
    filter + verify must equal brute-force all-pairs Jaccard at
    tau=0.5 — including pairs whose overlap includes common
    elements."""
    from itertools import combinations

    from pyspark.sql import functions as F

    from financial_data_warehouse_automation_spark.operators.text import (
        allpairs_prefix_candidates,
        jaccard,
    )

    corpora = [
        (0, ["a", "b", "c", "d"]),
        (1, ["a", "b", "c", "e"]),       # J=0.6 with 0
        (2, ["a", "b"]),                  # sz=2: COMMON-heavy short doc
        (3, ["a", "b"]),                  # J=1.0 with 2
        (4, ["z"]),                       # singleton
        (5, ["z"]),                       # J=1.0 with 4
        (6, ["c", "d", "e", "f", "g"]),
        (7, ["q", "r", "s"]),
    ]
    brute = set()
    for (ia, sa), (ib, sb) in combinations(corpora, 2):
        j = len(set(sa) & set(sb)) / len(set(sa) | set(sb))
        if j >= 0.5:
            brute.add((ia, ib))
    sets = spark.createDataFrame(corpora, "doc_id long, s array<string>")
    cand = allpairs_prefix_candidates(sets, "doc_id", "s")
    sa = sets.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    sb = sets.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    got = {
        (r.id_a, r.id_b)
        for r in cand.join(sa, "id_a").join(sb, "id_b")
        .where(jaccard(F.col("sa"), F.col("sb")) >= 0.5)
        .collect()
    }
    assert got == brute, f"prefix filter missed pairs: {brute - got}"


def test_simhash_block_pairs_exact_vs_brute(spark):
    """Block-bucketed simhash pairs must equal brute-force hamming<=1
    over an adversarial signature set: exact dups, single-bit flips in
    BOTH halves (each caught by the other block), 2-bit flips
    (excluded), and values crafted to collide on one block while far
    in hamming (must be verified away)."""
    from itertools import combinations

    from financial_data_warehouse_automation_spark.operators.text import (
        simhash_block_pairs,
    )

    sigs = [
        (0, 0x12345678), (1, 0x12345678),              # exact dup
        (2, 0x12345679),                                # low-bit flip of 0
        (3, 0x12345678 ^ (1 << 20)),                    # high-half flip of 0
        (4, 0x12345678 ^ 3),                            # 2 bits: excluded
        (5, 0x0000FFFF), (6, 0xFFFFFFFF & 0x7FFFFFFF),  # share no block
        (7, 0xABCD5678),                                # low block == 0's, far
        (8, 0x1234FFFF),                                # high block == 0's, far
    ]
    brute = {
        (a, b)
        for (a, sa), (b, sb) in combinations(sigs, 2)
        if bin(sa ^ sb).count("1") <= 1
    }
    sig = spark.createDataFrame(sigs, "doc_id long, simhash long")
    got = {
        (r.id_a, r.id_b)
        for r in simhash_block_pairs(sig, max_hamming=1).collect()
    }
    assert got == brute, f"mismatch: extra={got - brute} missing={brute - got}"


def test_simhash_block_occupancy_splits_hot_byte(spark):
    """The round-6 hazard: a corpus where every doc shares one 8-bit
    byte. The old (band, byte) banding put ALL n docs in a single
    bucket (quadratic expansion inside one collect_list row); 16-bit
    block keys split them by the other 8 bits, so no block key's
    population exceeds the true-duplicate group size."""
    from pyspark.sql import functions as F

    from financial_data_warehouse_automation_spark.operators.text import (
        simhash_block_pairs,
    )

    # 200 docs, all with low byte 0x7F, bits 8..15 spread over 100
    # values, high half unique per doc -> old low-byte bucket = 200
    # docs; new low-BLOCK key (bits 0..15) has <= 2 docs per value.
    rows = [(i, (i << 16) | ((i % 100) << 8) | 0x7F) for i in range(200)]
    sig = spark.createDataFrame(rows, "doc_id long, simhash long")
    b = sig.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band"),
                         (F.col("simhash") % 65536).alias("block")),
                F.struct(F.lit(1).alias("band"),
                         (F.col("simhash") / 65536).cast("long").alias("block")),
            )
        ).alias("bb"),
    )
    max_occ = (
        b.groupBy("bb.band", "bb.block").count().agg(F.max("count"))
        .collect()[0][0]
    )
    assert max_occ <= 2, f"block occupancy {max_occ} — hot byte leaked through"
    # and the pair output is the true near-dup set (empty: all far)
    assert simhash_block_pairs(sig, max_hamming=1).count() == 0


@pytest.mark.parametrize("tau", [0.5, 0.7, 3 / 17])
def test_prefix_filter_property_random_set_families(spark, tau):
    """Property (hypothesis): for ANY family of element sets, prefix-
    filter candidates ⊇ all pairs with Jaccard >= tau, and candidate
    verification equals brute force. One Spark job per example batch;
    few examples, wide coverage via set-family generation.
    Parametrized over tau ∈ {0.5, 0.7, 3/17} (round-9 verdict task 6):
    the generic-tau ceil fix was pinned at the bound-arithmetic level
    by test_prefix_filter_tau_float_ceil_exact; this closes the loop
    end-to-end on the operator's generic-tau surface, including a tau
    whose float products land one ulp off the exact rational."""
    from itertools import combinations

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from financial_data_warehouse_automation_spark.operators.text import (
        allpairs_prefix_candidates,
        jaccard,
    )

    elements = st.sampled_from([f"e{i}" for i in range(12)])
    families = st.lists(
        st.frozensets(elements, min_size=1, max_size=8),
        min_size=2, max_size=12,
    )

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(families)
    def run(fam):
        rows = [(i, sorted(s)) for i, s in enumerate(fam)]
        brute = {
            (ia, ib)
            for (ia, sa), (ib, sb) in combinations(rows, 2)
            if len(set(sa) & set(sb)) / len(set(sa) | set(sb)) >= tau
        }
        sets = spark.createDataFrame(rows, "doc_id long, s array<string>")
        cand = allpairs_prefix_candidates(sets, "doc_id", "s", tau=tau)
        sa_df = sets.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
        sb_df = sets.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
        got = {
            (r.id_a, r.id_b)
            for r in cand.join(sa_df, "id_a").join(sb_df, "id_b")
            .where(jaccard(F.col("sa"), F.col("sb")) >= tau)
            .collect()
        }
        assert got == brute, f"missing={brute - got} extra={got - brute}"

    run()


def test_incremental_prefix_filter_equals_rebuild(spark):
    """The incremental invariant: base-batch pairs ∪ delta-involving
    pairs (from allpairs_prefix_candidates_delta over one global df
    order) must equal the full-rebuild pair set, for ANY split —
    including deltas whose arrival shifts global df order (the delta
    adds copies of previously-rare elements) and delta-delta pairs."""
    from itertools import combinations

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from financial_data_warehouse_automation_spark.operators.text import (
        allpairs_prefix_candidates,
        allpairs_prefix_candidates_delta,
        jaccard,
    )

    elements = st.sampled_from([f"e{i}" for i in range(10)])
    families = st.lists(
        st.tuples(st.frozensets(elements, min_size=1, max_size=6),
                  st.booleans()),
        min_size=2, max_size=10,
    )

    def verified(cand, sets):
        sa = sets.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
        sb = sets.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
        return {
            (r.id_a, r.id_b)
            for r in cand.join(sa, "id_a").join(sb, "id_b")
            .where(jaccard(F.col("sa"), F.col("sb")) >= 0.5)
            .collect()
        }

    @settings(max_examples=6, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(families)
    def run(fam):
        rows = [(i, sorted(s), bool(new)) for i, (s, new) in enumerate(fam)]
        brute = {
            (ia, ib)
            for (ia, sa, _), (ib, sb, _) in combinations(rows, 2)
            if len(set(sa) & set(sb)) / len(set(sa) | set(sb)) >= 0.5
        }
        sets = spark.createDataFrame(
            rows, "doc_id long, s array<string>, is_new boolean"
        )
        base = sets.where(~F.col("is_new")).select("doc_id", "s")
        got_base = verified(
            allpairs_prefix_candidates(base, "doc_id", "s"), base
        )
        got_delta = verified(
            allpairs_prefix_candidates_delta(sets, "doc_id", "s", "is_new"),
            sets,
        )
        # disjoint phases, and their union is the full rebuild
        assert not (got_base & got_delta)
        assert got_base | got_delta == brute, (
            f"missing={brute - (got_base | got_delta)} "
            f"extra={(got_base | got_delta) - brute}"
        )

    run()


def test_prefix_filter_tau_float_ceil_exact(spark):
    """Generic-tau bound exactness (advisor finding, round 8): the
    recall bound ceil(tau*sz) must be computed on the EXACT rational,
    not the raw float product — tau=3/17, sz=85 gives
    3/17*85 = 15.000000000000002 in binary, so a bare ceil yields 16
    and the symmetric length filter demands |B| >= 16, silently
    dropping the qualifying pair (|B|=15 ⊂ |A|=85, J = 15/85 = tau
    exactly). With the round-before-ceil fix the pair must surface as
    a candidate."""
    from financial_data_warehouse_automation_spark.operators.text import (
        allpairs_prefix_candidates,
    )

    tau = 3 / 17
    a_set = [f"e{i}" for i in range(85)]
    b_set = a_set[:15]  # |inter|=15, |union|=85 -> J = 15/85 = 3/17
    sets = spark.createDataFrame(
        [(0, a_set), (1, b_set)], "doc_id long, s array<string>"
    )
    cand = {
        (r.id_a, r.id_b)
        for r in allpairs_prefix_candidates(sets, "doc_id", "s", tau=tau)
        .collect()
    }
    assert (0, 1) in cand, (
        "float-inflated ceil(tau*sz) dropped a qualifying pair"
    )


def test_positional_filter_final_pairs_unchanged(spark, sf_dir):
    """The PPJoin positional filter prunes only candidates that exact
    verification would reject (completeness theorem in
    _positional_keep), so the VERIFIED pair set with positional=True
    must equal positional=False on the real corpus — while the
    candidate count may only shrink."""
    from pyspark.sql import functions as F

    from financial_data_warehouse_automation_spark.lineage import cut
    from financial_data_warehouse_automation_spark.operators.text import (
        allpairs_prefix_candidates,
        jaccard,
        tokens,
        word_shingles,
    )
    from financial_data_warehouse_automation_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    sets = cut(
        d.select(
            "doc_id",
            F.array_distinct(word_shingles(tokens("text"), 3)).alias("s"),
        ),
        eager=False,
    )
    sa = sets.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    sb = sets.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))

    def verified(positional):
        cand = allpairs_prefix_candidates(
            sets, "doc_id", "s", tau=0.5, positional=positional
        )
        pairs = {
            (r.id_a, r.id_b)
            for r in cand.join(sa, "id_a").join(sb, "id_b")
            .where(jaccard(F.col("sa"), F.col("sb")) >= 0.5)
            .collect()
        }
        return cand.count(), pairs

    n_plain, pairs_plain = verified(False)
    n_pos, pairs_pos = verified(True)
    assert pairs_plain, "no verified pairs — trivial fixture"
    assert pairs_pos == pairs_plain
    assert n_pos <= n_plain, (n_pos, n_plain)


def test_hashed_element_pipeline_equals_string_formulation(spark, sf_dir):
    """The registered prefix-filter query runs over xxhash64 element
    images (round 9); Jaccard counts are invariant under the injective
    mapping, so its (id_a, id_b, jac) rows must equal a
    string-formulated twin EXACTLY on the real corpus — including jac
    VALUES, which a hash collision inside any pair's union would
    perturb. The DuckDB oracle pins the same equivalence cross-engine;
    this pins it in-engine with no oracle in the loop."""
    from pyspark.sql import functions as F

    from financial_data_warehouse_automation_spark.lineage import cut
    from financial_data_warehouse_automation_spark.operators.text import (
        allpairs_prefix_candidates,
        jaccard,
        tokens,
        word_shingles,
    )
    from financial_data_warehouse_automation_spark.queries.text import (
        doc_jaccard_prefix_filter,
    )
    from financial_data_warehouse_automation_spark.tables import load_table

    hashed = {
        (r.id_a, r.id_b, r.jac)
        for r in doc_jaccard_prefix_filter(spark, sf_dir).collect()
    }

    d = load_table(spark, sf_dir, "documents")
    sets = cut(
        d.select(
            "doc_id",
            F.array_distinct(word_shingles(tokens("text"), 3)).alias("s"),
        ),
        eager=False,
    )
    cand = allpairs_prefix_candidates(sets, "doc_id", "s", tau=0.5)
    sa = sets.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    sb = sets.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    jac = jaccard(F.col("sa"), F.col("sb"))
    string_rows = {
        (r.id_a, r.id_b, r.jac)
        for r in cand.join(sa, "id_a").join(sb, "id_b")
        .where(jac >= 0.5)
        .select("id_a", "id_b", F.round(jac, 6).alias("jac"))
        .collect()
    }
    assert hashed, "no verified pairs — trivial fixture"
    assert hashed == string_rows


def test_positional_filter_prunes_late_collision_candidate(spark):
    """Adversarial prune case: two docs share only {c, w}; the df order
    puts c at the LAST prefix slot of each side and w outside both
    prefixes, so the single collision gives bound m=1 + min(sz-i*) =
    1+1 = 2 < alpha = ceil((4+4)/3) = 3 — the pair cannot reach
    overlap 3 and must be pruned by the positional filter (it was a
    candidate under the plain prefix filter and would have cost an
    array verify)."""
    from financial_data_warehouse_automation_spark.operators.text import (
        allpairs_prefix_candidates,
    )

    rows = [
        (0, ["u1", "u2", "c", "w"]),
        (1, ["v1", "v2", "c", "w"]),
    ]
    # raise df(w) far above df(c) so w sorts AFTER c (df-ascending)
    # and lands outside both prefixes (prefix len = 4 - 2 + 1 = 3)
    rows += [(100 + i, [f"f{i}a", f"f{i}b", "w"]) for i in range(8)]
    sets = spark.createDataFrame(rows, "doc_id long, s array<string>")
    plain = {
        (r.id_a, r.id_b)
        for r in allpairs_prefix_candidates(
            sets, "doc_id", "s", positional=False
        ).collect()
    }
    pos = {
        (r.id_a, r.id_b)
        for r in allpairs_prefix_candidates(
            sets, "doc_id", "s", positional=True
        ).collect()
    }
    assert (0, 1) in plain, "fixture broken: pair not even a candidate"
    assert (0, 1) not in pos, "positional filter failed to prune"
    # every pruned pair must be a TRUE reject: exact Jaccard < 0.5
    # (here J(0,1) = 2/6); asserted directly, per r8 advisor finding
    # that the prior set-difference form was vacuously true.
    by_id = {doc_id: set(toks) for doc_id, toks in rows}
    for a, b in plain - pos:
        sa, sb = by_id[a], by_id[b]
        j = len(sa & sb) / len(sa | sb)
        assert j < 0.5, f"positional filter pruned a TRUE pair {(a, b)} J={j}"


def test_simhash_block_pairs_property_random_signatures(spark):
    """Property (hypothesis): for ANY 32-bit signature multiset,
    block-join pairs == brute-force hamming<=1 pairs (recall by
    pigeonhole, precision by exact verify)."""
    from itertools import combinations

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from financial_data_warehouse_automation_spark.operators.text import (
        simhash_block_pairs,
    )

    # mix of independent values and single-bit perturbations of a base
    base = st.integers(min_value=0, max_value=(1 << 32) - 1)
    sig_lists = st.lists(base, min_size=2, max_size=10).flatmap(
        lambda bs: st.lists(
            st.tuples(st.sampled_from(bs), st.integers(0, 33)),
            min_size=2, max_size=14,
        ).map(
            lambda ps: [
                b ^ (1 << f) if f < 32 else b for b, f in ps
            ]
        )
    )

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(sig_lists)
    def run(vals):
        rows = list(enumerate(vals))
        brute = {
            (a, b)
            for (a, sa), (b, sb) in combinations(rows, 2)
            if bin(sa ^ sb).count("1") <= 1
        }
        sig = spark.createDataFrame(rows, "doc_id long, simhash long")
        got = {
            (r.id_a, r.id_b)
            for r in simhash_block_pairs(sig, max_hamming=1).collect()
        }
        assert got == brute, f"missing={brute - got} extra={got - brute}"

    run()


def test_duplicate_kgram_spans_hand_built_maximal():
    """Hand-built corpus: spans are MAXIMAL, both offsets are right,
    separate islands stay separate, and sub-threshold spans drop."""
    from financial_data_warehouse_automation_spark.operators.text import duplicate_kgram_spans
    from financial_data_warehouse_automation_spark.session import get_spark

    spark = get_spark("fdwa-tests")
    w = [f"w{i}" for i in range(40)]  # 40 unique filler words
    shared12 = [f"s{i}" for i in range(12)]   # 12-token shared run
    shared9 = [f"t{i}" for i in range(9)]     # 9-token run: < min_span
    docs = [
        # doc 1: shared12 at positions 4..15, shared9 at 20..28
        (1, " ".join(w[0:3] + shared12 + w[3:7] + shared9 + w[7:12])),
        # doc 2: shared12 at positions 1..12, shared9 at 17..25
        (2, " ".join(shared12 + w[20:24] + shared9 + w[24:30])),
        # doc 3: no overlap of >= 8 consecutive tokens with anyone
        (3, " ".join(w[30:40] + ["x1", "x2", "x3"])),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {
        (r.id_a, r.id_b, r.start_a, r.start_b, r.span_len)
        for r in duplicate_kgram_spans(d, k=8, min_span=10).collect()
    }
    # Only the 12-token run survives min_span=10; the 9-token run has
    # 2 consecutive 8-gram matches -> span 9 < 10, dropped.
    assert rows == {(1, 2, 4, 1, 12)}
    # Lower the threshold: the 9-token island appears as its own span
    # (not merged across the mismatching gap).
    rows9 = {
        (r.id_a, r.id_b, r.start_a, r.start_b, r.span_len)
        for r in duplicate_kgram_spans(d, k=8, min_span=9).collect()
    }
    assert rows9 == {(1, 2, 4, 1, 12), (1, 2, 20, 17, 9)}


def test_span_dedup_coverage_merges_overlaps():
    """Two overlapping spans from different partners must be
    interval-unioned, not double-counted."""
    from pyspark.sql import functions as F

    from financial_data_warehouse_automation_spark.operators.text import (
        duplicate_kgram_spans,
        tokens,
    )
    from financial_data_warehouse_automation_spark.session import get_spark

    spark = get_spark("fdwa-tests")
    run = [f"r{i}" for i in range(20)]  # 20-token run
    filler = [f"f{i}" for i in range(10)]
    docs = [
        (1, " ".join(run[0:14])),            # covers run[0..13]
        (2, " ".join(run[6:20])),            # covers run[6..19]
        (3, " ".join(filler + run)),         # later doc holds all 20
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    spans = duplicate_kgram_spans(d, k=8, min_span=10)
    got = {
        (r.id_a, r.id_b, r.start_b, r.span_len)
        for r in spans.where(F.col("id_b") == 3).collect()
    }
    # doc1 shares run[0..13] -> doc3 positions 11..24 (len 14);
    # doc2 shares run[6..19] -> doc3 positions 17..30 (len 14).
    assert got == {(1, 3, 11, 14), (2, 3, 17, 14)}
    # Coverage on doc 3 must be the union 11..30 = 20 tokens, not 28.
    iv = spans.where(F.col("id_b") == 3).select(
        F.col("start_b").alias("s"),
        (F.col("start_b") + F.col("span_len") - 1).alias("e"),
    )
    lo, hi, n = iv.agg(F.min("s"), F.max("e"), F.count(F.lit(1))).first()
    assert (lo, hi, n) == (11, 30, 2)
    n_tok = d.where(F.col("doc_id") == 3).select(
        F.size(tokens("text"))
    ).first()[0]
    assert n_tok == 30


def test_neardup_dropset_chain_pair_singleton(spark):
    """End-to-end dropset semantics on hand-built cluster shapes: a
    3-doc CHAIN (consecutive Jaccard >= 0.5, ends < 0.5) collapses to
    ONE cluster under its minimum id, a 2-doc pair keeps its min, and
    a singleton never appears in the drop list."""
    from financial_data_warehouse_automation_spark.queries.text import _neardup_dropset

    w = [f"w{i}" for i in range(18)]
    x = [f"x{i}" for i in range(10)]
    texts = {
        # chain: J(1,2) = J(2,3) = 7/13 >= 0.5 but J(1,3) = 4/16 < 0.5
        1: " ".join(w[0:12]),
        2: " ".join(w[3:15]),
        3: " ".join(w[6:18]),
        # pair: 7 of 8 shingles shared after the last-token swap -> 7/9
        4: " ".join(x),
        5: " ".join(x[:9] + ["y0"]),
        # singleton
        6: " ".join(f"z{i}" for i in range(10)),
    }
    d = spark.createDataFrame(
        [(i, t, len(t)) for i, t in texts.items()],
        "doc_id long, text string, n_chars int",
    )
    got = {
        (r.doc_id, r.canonical, r.cluster_size, r.reclaimed_chars)
        for r in _neardup_dropset(d).collect()
    }
    assert got == {
        (2, 1, 3, len(texts[2])),
        (3, 1, 3, len(texts[3])),
        (5, 4, 2, len(texts[5])),
    }


def test_neardup_dropset_incremental_epoch_attribution(spark):
    """The three incremental cluster events, on hand-picked delta
    membership: (1) delta doc 5 BRIDGES dissimilar base docs 3 and 4
    into one cluster — base doc 4, kept by the base epoch, is newly
    dropped 'incr'; (2) delta doc 9 (smaller id) takes over as
    canonical of base cluster {10, 11} — old canonical 10 drops
    'incr' while 11's base-epoch drop keeps its 'base' tag under the
    NEW canonical 9; (3) a delta-only pair drops 'incr'. Plus the
    monotonicity floor: every base-epoch drop is still present, and a
    base singleton never appears."""
    from financial_data_warehouse_automation_spark.queries.text import (
        _neardup_dropset_incremental,
    )

    def win(pfx, lo, hi):
        return " ".join(f"{pfx}{i}" for i in range(lo, hi))

    rows = [
        # base pair: J(1,2) = 7/13 >= 0.5
        (1, win("w", 0, 12), False),
        (2, win("w", 3, 15), False),
        # bridge: J(3,5) = J(5,4) = 7/13, J(3,4) = 4/16 < 0.5
        (3, win("a", 0, 12), False),
        (4, win("a", 6, 18), False),
        (5, win("a", 3, 15), True),
        # takeover chain: J(9,10) = J(10,11) = 7/13, J(9,11) < 0.5
        (9, win("u", 0, 12), True),
        (10, win("u", 3, 15), False),
        (11, win("u", 6, 18), False),
        # delta-only pair: 7 of 8 shingles shared -> 7/9
        (20, win("v", 0, 10), True),
        (21, win("v", 0, 9) + " q0", True),
        # base singleton
        (30, win("z", 0, 10), False),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, is_new boolean")
    got = {
        (r.doc_id, r.canonical, r.cluster_size, r.epoch)
        for r in _neardup_dropset_incremental(d).collect()
    }
    assert got == {
        (2, 1, 2, "base"),
        (4, 3, 3, "incr"),
        (5, 3, 3, "incr"),
        (10, 9, 3, "incr"),
        (11, 9, 3, "base"),
        (21, 20, 2, "incr"),
    }


def test_doc_block_dedup_rebuild_hand_built(spark, tmp_path, monkeypatch):
    """Keep-first semantics on a corpus built to hit every branch:
    cross-doc duplicate blocks (doc 1's repeat of doc 0's block is
    dropped), INTRA-doc repeats (doc 2 repeats its own first block),
    and a partial tail block (11 tokens = one full + one 1-token
    block). First = lowest (doc_id, position) globally."""
    from financial_data_warehouse_automation_spark.queries.text import doc_block_dedup_rebuild
    from financial_data_warehouse_automation_spark import tables

    a = " ".join(f"a{i}" for i in range(10))          # block A
    b = " ".join(f"b{i}" for i in range(10))          # block B
    rows = [
        (0, a + " " + b),                # doc 0: A B        -> keeps both
        (1, b + " " + a + " tail"),      # doc 1: B A [tail] -> keeps only 'tail'
        (2, a + " " + a),                # doc 2: A A        -> keeps nothing
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "docs")
    df.coalesce(1).write.parquet(d)
    import os
    os.rename(
        [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")][0],
        str(tmp_path / "documents.parquet"),
    )
    tables._RELATION_CACHE.clear()
    out = {
        r.doc_id: (r.n_blocks, r.n_kept, r.clean_text)
        for r in doc_block_dedup_rebuild(spark, str(tmp_path)).collect()
    }
    tables._RELATION_CACHE.clear()
    assert out[0] == (2, 2, a + " " + b)
    assert out[1] == (3, 1, "tail")
    assert out[2] == (2, 0, "")


def test_block_dedup_rebuild_hypothesis_matches_python(spark, tmp_path):
    """Property: for ANY corpus of small token documents
    (hypothesis-generated over a 4-word vocabulary so cross-doc and
    intra-doc block collisions are common), doc_block_dedup_rebuild
    equals a pure-Python keep-first-rebuild computed OUTSIDE Spark —
    block boundaries, global (doc_id, pos) ordering, partial tail
    blocks, and empty rebuilds all covered by generation."""
    import os
    import shutil

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from financial_data_warehouse_automation_spark import tables
    from financial_data_warehouse_automation_spark.queries.text import doc_block_dedup_rebuild

    word = st.sampled_from(["aa", "bb", "cc", "dd"])
    doc = st.lists(word, min_size=1, max_size=25).map(" ".join)

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(texts=st.lists(doc, min_size=1, max_size=8))
    def check(texts):
        d = str(tmp_path / "hyp")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "w"))
        src = [
            f for f in os.listdir(str(tmp_path / "w"))
            if f.endswith(".parquet")
        ][0]
        shutil.copy(
            os.path.join(str(tmp_path / "w"), src),
            os.path.join(d, "documents.parquet"),
        )
        tables._RELATION_CACHE.clear()
        got = {
            r.doc_id: (r.n_blocks, r.n_kept, r.clean_text)
            for r in doc_block_dedup_rebuild(spark, d).collect()
        }
        tables._RELATION_CACHE.clear()
        # pure-Python reference: global keep-first over 10-token blocks
        seen: set[str] = set()
        want = {}
        for i, t in enumerate(texts):
            toks = t.split()
            blocks = [
                " ".join(toks[j:j + 10]) for j in range(0, len(toks), 10)
            ]
            kept = []
            for b in blocks:
                if b not in seen:
                    seen.add(b)
                    kept.append(b)
            want[i] = (len(blocks), len(kept), " ".join(kept))
        assert got == want

    check()
