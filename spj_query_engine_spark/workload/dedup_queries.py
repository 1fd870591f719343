"""Workload entries for the deduplication operators (documents/embeddings)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from spj_query_engine_spark.catalog import load_tables
from spj_query_engine_spark.operators import dedup
from spj_query_engine_spark.workload.registry import register

def _graph_materialized(
    spark: SparkSession, sf_dir: str, build, aqe: bool = True, coalesce: bool = True
) -> DataFrame:
    """Materialize an iterative graph query under a coarse scope.

    The graph family's plans are many short join/agg stages over tiny
    frames (pair graphs are near-dup OUTPUT); at local bench scale their
    per-stage scheduler jitter was the documented ~2x session variance
    (BENCH_VARIANCE.md).  coarse_materialize only LOWERS the partition
    count — on an isolated sub-session, never the caller's conf — and only
    when the optimizer proves the input small, so this is a no-op at
    production scale; the eager localCheckpoint pulls the whole iteration
    under the scope and bounds re-execution of shared subplans.  Values,
    schema, and the DuckDB oracle are untouched.
    """
    from spj_query_engine_spark.operators.core import coarse_materialize

    return coarse_materialize(build, _docs(spark, sf_dir), aqe=aqe, coalesce=coalesce)



def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ("documents",))["documents"]


def _emb_materialized(
    spark: SparkSession, sf_dir: str, build, aqe: bool = True, coalesce: bool = True
) -> DataFrame:
    """d14/d29's twin of :func:`_graph_materialized` over the embeddings
    table: the quantizer pair derivation PLUS the connected-component
    iteration (many short join/agg stages over pair-sized frames)
    materialize under the same coarse scope the graph family uses — a
    no-op at production scale by the optimizer-estimate clamp; values,
    schema, and the oracle are untouched."""
    from spj_query_engine_spark.operators.core import coarse_materialize

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    return coarse_materialize(build, emb, aqe=aqe, coalesce=coalesce)


@register(
    "d01_exact_dedup",
    dedup.exact_dedup_sql(),
    doc="Exact dedup: hash-groupBy on md5(text); shuffles digests, not bodies.",
)
def d01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_docs(spark, sf_dir))


@register(
    "d02_minhash_lsh",
    dedup.minhash_lsh_pairs_sql(),
    doc="MinHash(12)+LSH(6×2) candidate pairs verified by exact shingle "
    "Jaccard ≥ %s; banded equi-joins only, no cross product." % dedup.JACCARD_T,
)
def d02_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # eager ckpt under a coarse-shuffle scope: same values, but the banded
    # derivation's tiny-task stages (the documented session-jitter source,
    # BENCH_VARIANCE.md) materialize with coarse tasks
    return dedup.lsh_pairs_ckpt(_docs(spark, sf_dir), with_jaccard=True)


@register(
    "d03_simhash_fp",
    dedup.simhash_fingerprints_sql(),
    doc="60-bit SimHash fingerprints (Charikar) — per-row JVM expressions.",
)
def d03_simhash_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_fingerprints(_docs(spark, sf_dir))


@register(
    "d04_simhash_pairs",
    dedup.simhash_pairs_sql(),
    doc="SimHash near-dup pairs: 4×15-bit band join + Hamming ≤ %s verify."
    % dedup.SIMHASH_MAX_HAMMING,
)
def d04_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _graph_materialized(spark, sf_dir, dedup.simhash_pairs)


@register(
    "d05_ngram_jaccard",
    dedup.ngram_jaccard_pairs_sql(),
    doc="n-gram Jaccard all-pairs via shingle inverted index with DF cap "
    "≤ %s (stop-shingle skew control)." % dedup.NGRAM_MAX_DF,
)
def d05_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _graph_materialized(spark, sf_dir, dedup.ngram_jaccard_pairs, aqe=False)


@register(
    "d06_embedding_near_dup",
    dedup.embedding_near_dup_sql(),
    doc="Embedding cosine near-dup pairs ≥ %s, blocked by IVF quantizer cell "
    "(top-%s multi-probe; cell count CORPUS-DERIVED as max(%s, ceil(n/%s)) "
    "so cell size stays constant at any scale, computed identically by the "
    "oracle's scalar subquery; past %s cells the assignment goes two-level) "
    "— bounded-size blocks under engine control instead of a data-dependent "
    "column; explicit same-order double fold both engines."
    % (dedup.COSINE_T, dedup.NEARDUP_ASSIGN, dedup.NEARDUP_CELLS,
       dedup.NEARDUP_CELL_TARGET, dedup.FLAT_ASSIGN_MAX),
)
def d06_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # n_cells=None → resolve_quantizer_cells: conf override, else the same
    # max(floor, ceil(n/target)) the oracle's scalar subquery computes — the
    # entry self-scales, no harness knob needed.  r10: coarse scope with
    # coalescing off (interleaved A/B 0.845, scripts/ab_coarse4_r10.py) —
    # the knob that rescued every assignment chain; the plain-AQE barrier
    # alone measured 1.6x slower in r09 and stays off.
    return _emb_materialized(spark, sf_dir, dedup.embedding_near_dup, coalesce=False)


@register(
    "d07_dup_clusters",
    dedup.dup_clusters_sql(dedup.minhash_lsh_pairs_sql()),
    doc="Near-dup clustering: connected components over the MinHash pair "
    "graph via %s rounds of min-label propagation; keep is_canonical rows "
    "to dedup.  Oracle replays the propagation as unrolled CTEs."
    % dedup.CC_ROUNDS,
)
def d07_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _graph_materialized(
        spark, sf_dir, lambda d: dedup.dup_clusters(dedup.lsh_pairs_ckpt(d))
    )


@register(
    "d09_cc_alternating",
    dedup.cc_alternating_sql(dedup.minhash_lsh_pairs_sql()),
    doc="Connected components over the MinHash pair graph via alternating "
    "large-star/small-star contraction (Kiveris et al. SoCC'14) — O(log² n) "
    "rounds independent of component diameter, the 100 TB-scale path d07's "
    "fixed-round propagation documents.  Oracle = true transitive "
    "connectivity (recursive CTE).",
)
def d09_cc_alternating(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _graph_materialized(
        spark, sf_dir, lambda d: dedup.cc_alternating(dedup.lsh_pairs_ckpt(d))
    )


@register(
    "d08_apply_dedup",
    dedup.apply_dedup_sql(),
    doc="End-product dedup: surviving doc_ids = exact keepers anti-join "
    "non-canonical near-dup cluster members; id-only anti-join, text never "
    "shuffles.",
    bench=False,  # composition of d01+d02+d07, all three already benched
)
def d08_apply_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.apply_dedup(_docs(spark, sf_dir))


@register(
    "d10_contamination",
    dedup.contamination_sql(),
    doc="Benchmark decontamination: max n-gram overlap fraction of each "
    "train doc against the doc_id %% %s == 0 eval split, flagged at >= %s; "
    "train-x-eval inverted-index join with the d05 stop-shingle cap — the "
    "eval side broadcasts at production scale."
    % (dedup.EVAL_MOD, dedup.CONTAM_T),
)
def d10_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _graph_materialized(spark, sf_dir, dedup.contamination, aqe=False)


@register(
    "d11_incremental_dedup",
    dedup.incremental_dedup_sql(),
    doc="Ingestion-time incremental dedup: the incoming batch (doc_id %% %s "
    ">= %s) band-joins against the EXISTING corpus index only - the "
    "quadratic corpus-x-corpus direction never forms, and the corpus bands "
    "amortize across batches; each new doc reports its best corpus match "
    "at Jaccard >= %s." % (dedup.INC_MOD, dedup.INC_NEW, dedup.JACCARD_T),
)
def d11_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _graph_materialized(spark, sf_dir, dedup.incremental_dedup)


@register(
    "d12_near_dup_2level",
    dedup.embedding_near_dup_2level_sql(),
    doc="Embedding near-dup with TWO-LEVEL quantizer assignment (branch=%s "
    "over %s leaves): n x (branch + leaves/branch) assignment cost instead "
    "of the flat n x leaves - the fix for the flat variant's quadratic "
    "assignment when cell count scales with the corpus (measured 109x -> "
    "17x wall at 100x input)." % (dedup.NEARDUP_BRANCH, dedup.NEARDUP_CELLS),
)
def d12_near_dup_2level(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r10: same coarse scope d14/d29 ride (_emb_materialized) — the
    # two-level assignment + pair join is many short stages over
    # centroid/assignment-sized frames at bench scale; no-op at
    # production scale by the optimizer-estimate clamp.
    return _emb_materialized(spark, sf_dir, dedup.embedding_near_dup_2level, coalesce=False)


@register(
    "d13_chunk_dedup",
    dedup.chunk_dedup_stats_sql(),
    doc="Chunk-level boilerplate stats: non-overlapping %d-token block "
    "hashes, per-doc fraction occurring >1x corpus-wide - the exact "
    "sub-document dedup pass between whole-doc hashing (d01) and fuzzy "
    "shingling (d02); chunking is a pure projection, only digests "
    "shuffle." % dedup.CHUNK_TOKENS,
)
def d13_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.chunk_dedup_stats(_docs(spark, sf_dir))


@register(
    "d14_embedding_dedup",
    dedup.apply_embedding_dedup_sql(),
    doc="Semantic dedup end product: embedding near-dup pairs (d12's "
    "two-level quantizer) -> connected components -> keep the min-id "
    "representative; the final anti-join moves id-only frames, never "
    "vectors - the embedding twin of d08.",
)
def d14_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _emb_materialized(spark, sf_dir, dedup.apply_embedding_dedup, coalesce=False)


@register(
    "d15_strip_boilerplate",
    dedup.strip_boilerplate_sql(),
    doc="Boilerplate REMOVAL (the transformation d13's stats point at): "
    "drop every %d-token block occurring >%dx corpus-wide, reassemble "
    "surviving blocks in order into clean_text; removal is a LEFT ANTI "
    "join against the (small) boilerplate digest list, counting moves "
    "digests only, text shuffles once for the rebuild."
    % (dedup.CHUNK_TOKENS, dedup.BOILER_MAX_OCC),
)
def d15_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.strip_boilerplate(_docs(spark, sf_dir))


@register(
    "g01_pagerank",
    dedup.pagerank_neardup_sql(),
    doc="PageRank over the near-dup pair graph, %d power iterations in "
    "FIXED-POINT integer arithmetic (ranks in 1e-12 units, contributions "
    "= rank div degree, damping as exact 85/100 rationals) - each "
    "iteration one edge-join + one dest-key aggregate, O(|E|) per round; "
    "integer ops make the iterative result hash-replayable where float "
    "PageRank never is." % dedup.PR_ITERS,
)
def g01_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _graph_materialized(spark, sf_dir, dedup.pagerank_neardup, aqe=False)


@register(
    "d16_fuzzy_name_pairs",
    dedup.fuzzy_name_pairs_sql(),
    doc="Edit-distance fuzzy matching (Levenshtein <= %d) completing the "
    "near-dup taxonomy: pairs the distinct-name VOCABULARY (never rows), "
    "token-blocked candidate generation (record-linkage q-gram-filter "
    "shape) so O(vocab^2) never materializes; row counts ride back on "
    "the winner list." % dedup.FUZZY_MAX_DIST,
)
def d16_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_tables(spark, sf_dir, ("part",))["part"]
    return dedup.fuzzy_name_pairs(part)


@register(
    "g02_triangle_count",
    dedup.triangle_counts_sql(),
    doc="Per-node triangle counts over the near-dup pair graph via the "
    "degree-oriented wedge join (edges oriented low-degree -> high-degree "
    "endpoint): wedge fan-out bounded by the LOW endpoint's out-degree, "
    "O(m^1.5) worst-case total instead of sum(deg^2), every step an "
    "equi-join.  The (degree, id) orientation is a pure graph function, "
    "so the oracle replays it exactly.",
)
def g02_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _graph_materialized(spark, sf_dir, dedup.triangle_counts)


@register(
    "g03_kcore",
    dedup.kcore_members_sql(),
    doc="k-core of the near-dup graph (%d unrolled peel rounds, k=%d): "
    "separates dense duplicate FAMILIES (template farms, mirror sets) "
    "from incidental pairwise matches - a chain is one component but an "
    "empty 2-core.  Each round one degree aggregate + two semi-joins on "
    "the shrinking edge list." % (dedup.KCORE_ROUNDS, dedup.KCORE_K),
)
def g03_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _graph_materialized(spark, sf_dir, dedup.kcore_members, aqe=False)


@register(
    "g04_bfs_distances",
    dedup.bfs_distances_sql(),
    doc="Bounded-hop BFS from seed docs (id %% %d == 0, %d hops): the "
    "provenance query of a dedup graph (hops-from-known-bad), one edge "
    "join + one min aggregate per round, SQL-replayable because the "
    "hop budget is fixed." % (dedup.BFS_SEED_MOD, dedup.BFS_HOPS),
)
def g04_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _graph_materialized(spark, sf_dir, dedup.bfs_distances, aqe=False)


@register(
    "d17_containment_pairs",
    dedup.containment_pairs_sql(),
    doc="DIRECTED shingle containment >= %s (Broder's containment vs "
    "resemblance): catches the short-doc-quoted-in-long-doc duplicates "
    "symmetric Jaccard structurally misses; d05's inverted-index anatomy "
    "with both directions kept and the INNER size as denominator."
    % dedup.CONTAIN_T,
)
def d17_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _graph_materialized(spark, sf_dir, dedup.containment_pairs, aqe=False)


@register(
    "d18_minhash_calibration",
    dedup.minhash_calibration_sql(),
    doc="MinHash calibration: per verified pair, the sketch's own estimate "
    "(fraction of agreeing signature components) vs the exact shingle "
    "Jaccard with signed error - s11's index-quality evaluation for the "
    "text sketch; bounded by pairs x K, never corpus^2.",
)
def d18_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _graph_materialized(spark, sf_dir, dedup.minhash_calibration, aqe=False)


@register(
    "d19_span_dup_pairs",
    dedup.span_dup_pairs_sql(),
    doc="Exact duplicated TOKEN SPANS per doc pair (Lee et al. 2022 "
    "substring dedup): overlapping %d-token window hashes, stop-gram cap, "
    "diagonal islands merge consecutive seed matches into spans - catches "
    "the shifted-duplicate d13's aligned blocks miss and localizes what "
    "d02/d05 only score." % dedup.SPAN_K,
)
def d19_span_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.span_dup_pairs(_docs(spark, sf_dir))


@register(
    "g05_link_prediction",
    dedup.common_neighbor_pairs_sql(),
    doc="Common-neighbor link prediction (Liben-Nowell & Kleinberg) over "
    "the FUSED near-dup graph (union of the d02/d04/d05/d17/d19 pair "
    "modalities): non-adjacent pairs ranked by neighborhood Jaccard >= %s "
    "- the recall-repair query that surfaces duplicates every index "
    "missed; wedge fan-out hub-capped at degree %d, degrees keep the "
    "full graph." % (dedup.CN_MIN_JACCARD, dedup.CN_HUB_CAP),
)
def g05_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.common_neighbor_pairs(_docs(spark, sf_dir))


@register(
    "d20_dedup_impact",
    dedup.dedup_impact_sql(),
    doc="Recall attribution across the five near-dup modalities: per "
    "modality the pair count, docs touched, and pairs ONLY it found "
    "(zero unique pairs = droppable index at 100 TB) plus the FUSED "
    "union row; mh/ng/ct share one persisted shingle index, attribution "
    "is pairs-bounded rollups.",
    bench=False,  # composition of d02/d04/d05/d17/d19, all five already benched
)
def d20_dedup_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_impact(_docs(spark, sf_dir))


@register(
    "d21_lsh_band_tuning",
    dedup.lsh_band_tuning_sql(),
    doc="LSH band-count sweep over the 12-component signature (b in %s): "
    "candidate and exact-verified pair counts + integer precision per "
    "config - the recall/junk S-curve trade that justifies d02's 6x2 "
    "banding; ONE signature pass feeds every config, verification "
    "touches only the distinct candidate union." % (dedup.BAND_SWEEP,),
)
def d21_lsh_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _graph_materialized(spark, sf_dir, dedup.lsh_band_tuning)


@register(
    "d22_sentence_dedup",
    dedup.sentence_dedup_sql(),
    doc="Sentence-level duplication census (C4's dedup granularity): "
    "top-%d most-repeated sentences with occurrence/doc counts - the "
    "boilerplate-removal worklist at the unit an editor copies; "
    "sentence text never shuffles (md5 + %d-char exemplar), support "
    "filter before a two-phase salted top-k, segmentation identical "
    "to the u06 UDTF." % (dedup.SENT_TOP_K, dedup.SENT_PREFIX),
)
def d22_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.sentence_dedup(_docs(spark, sf_dir))


@register(
    "g07_clustering_coeff",
    dedup.clustering_coefficient_sql(),
    doc="Local clustering coefficient per node (2T div deg(deg-1), exact "
    "ppm) over the near-dup graph: clique-like template families vs "
    "hub-and-spoke boilerplate stars - the input to whether d07's "
    "canonicalization is safe; g02's wedge join plus one degree join "
    "and an integer division.",
)
def g07_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _graph_materialized(spark, sf_dir, dedup.clustering_coefficient)


@register(
    "d23_bloom_dedup",
    dedup.bloom_dedup_sql(),
    doc="Bloom-filter ingestion screen: %d portable hash bits over %d "
    "positions per doc, incoming batch flagged when ALL bits are set by "
    "the corpus, graded against exact md5 truth (zero false negatives by "
    "construction; the false_positive column measures the (1-e^-kn/m)^k "
    "cost).  Corpus side collapses to <= m distinct set bits - at 100 TB "
    "a broadcast bitmap, never corpus x corpus."
    % (dedup.BLOOM_K, dedup.BLOOM_M),
)
def d23_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.bloom_dedup(_docs(spark, sf_dir))


@register(
    "g08_personalized_pagerank",
    dedup.personalized_pagerank_sql(),
    doc="Personalized PageRank: teleport mass pinned to the deterministic "
    "seed set (doc_id %% %d == 0), %d unrolled fixed-point integer "
    "rounds - 'more like these' seed-proximity scoring for curation and "
    "recommendation where global PageRank (g01) only measures "
    "popularity; per round one rank-onto-edges equi-join + one "
    "destination aggregate, O(|E|)."
    % (dedup.PPR_SEED_MOD, dedup.PR_ITERS),
)
def g08_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _graph_materialized(spark, sf_dir, dedup.personalized_pagerank, aqe=False)


@register(
    "d24_dedup_weights",
    dedup.dedup_weights_sql(),
    doc="Duplication-aware sampling weights: 1/n_copies ppm per doc of each "
    "exact-content group - the DOWN-WEIGHT alternative to d01's drop "
    "(every distinct content contributes total mass 1, so boilerplate "
    "neither dominates the gradient nor vanishes); d01's digest-only "
    "shuffle + one digest join back, bodies never move.",
)
def d24_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_weights(_docs(spark, sf_dir))


@register(
    "g09_harmonic_centrality",
    dedup.harmonic_centrality_sql(),
    doc="Harmonic centrality within %d hops (exact ppm, 10^6 div d): "
    "separates docs embedded in template families from incidental one-off "
    "matches, well-defined on disconnected graphs - multi-source BFS as "
    "one equi-join + min-dist aggregate per hop, frontier hub-capped at "
    "degree %d (g05's discipline)."
    % (dedup.HC_RADIUS, dedup.HC_HUB_CAP),
)
def g09_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _graph_materialized(spark, sf_dir, dedup.harmonic_centrality, aqe=False)


@register(
    "d25_neardup_weights",
    dedup.neardup_weights_sql(),
    doc="Near-dup cluster weights: 1/|MinHash cluster| ppm per doc (docs "
    "outside the pair graph stay singletons at full weight) - d24 "
    "down-weights exact copies, this down-weights template families and "
    "paraphrases: each near-dup class contributes total mass ~1, the "
    "soft alternative to d08's hard drop; banded joins + one rollup + "
    "one corpus left join, bodies never shuffle.",
)
def d25_neardup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the pair graph + CC iteration + rollup all coarse-materialize (the
    # d07/_graph_materialized treatment; nested lsh_pairs_ckpt scope no-ops)
    return _graph_materialized(spark, sf_dir, dedup.neardup_weights)


@register(
    "g10_assortativity",
    dedup.degree_assortativity_sql(),
    doc="Degree assortativity of the near-dup graph: Pearson correlation "
    "of endpoint degrees from three EXACT integer moments (one degree "
    "rollup + one degree-onto-edges equi-join, O(|E|)) - template "
    "families read near +1, hub-and-spoke boilerplate negative; the "
    "topology diagnostic read before trusting d07/d09 cluster policy "
    "and d25's weights.  Only the final correlation is a (portable) "
    "double.",
)
def g10_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _graph_materialized(spark, sf_dir, dedup.degree_assortativity, aqe=False)


@register(
    "g11_component_census",
    dedup.component_census_sql(),
    doc="Component-size census of the near-dup graph: components, docs and "
    "ppm corpus mass per SIZE - the shape report behind dedup budgeting "
    "(all-2-node means pair dedup suffices; a giant component means "
    "template collapse, quantified BEFORE d08 deletes survivors); d09's "
    "alternating-star CC + two strict-reduction rollups.  Oracle = true "
    "transitive connectivity (recursive CTE).",
)
def g11_component_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _graph_materialized(spark, sf_dir, dedup.component_census)


@register(
    "d26_shingle_df_histogram",
    dedup.shingle_df_histogram_sql(),
    doc="Shingle document-frequency histogram: shingles, posting mass and "
    "ppm share per floor(log2 DF) bucket plus the stop-cap flag - the "
    "tuning measurement behind NGRAM_MAX_DF, the skew lever every "
    "inverted-index join here keys on (candidate pairs grow as "
    "sum(DF^2), so the high-DF tail IS the join cost); bit-length "
    "bucketing, no float log.",
)
def d26_shingle_df_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _graph_materialized(spark, sf_dir, dedup.shingle_df_histogram, aqe=False)


@register(
    "d27_span_coverage",
    dedup.span_coverage_sql(),
    doc="Per-doc duplicated-span coverage: tokens inside verbatim spans "
    "shared with ANY other doc, count + ppm of the doc - d19 reports "
    "per-pair span lengths, this answers the per-DOC drop-vs-keep "
    "question and feeds span-level excision (Lee et al. 2022); d19's "
    "positional window index + seed-extent union (no island pass), "
    "bounded by duplicated windows, never corpus^2.",
)
def d27_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.span_coverage(_docs(spark, sf_dir))


@register(
    "d28_dup_span_extents",
    dedup.dup_span_extents_sql(),
    doc="Per-doc duplicated-span EXTENTS: island structure of d27's "
    "covered positions - span count, covered tokens, and LONGEST "
    "contiguous duplicated run per doc, the statistic exact-substring "
    "excision (Lee et al. 2022) actually cuts on (one long quote vs "
    "wall-to-wall boilerplate at equal coverage ppm); pair-free seeds + "
    "gaps-and-islands window on (doc, position) - O(corpus tokens), "
    "window partitioned on high-cardinality doc_id.",
)
def d28_dup_span_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dup_span_extents(_docs(spark, sf_dir))


@register(
    "d29_semantic_dedup",
    dedup.semantic_dedup_sql(),
    doc="SemDeDup end-to-end (Abbas et al. 2023): IVF-cell cosine near-dup "
    "pairs (d06's corpus-derived quantizer, flat/two-level auto-switch) -> "
    "connected components (d07's fixed-round propagation) -> one canonical "
    "survivor per cluster, emitted for EVERY vector as (cluster_id, "
    "is_kept); the one-pass filter a training pipeline applies before "
    "tokenization.  The LABELED twin of d14: d14 emits only the survivor "
    "rows (anti-join end product), this emits the full per-vector "
    "cluster/keep labeling an audit or lineage manifest needs, and rides "
    "the flat/two-level auto-switch rather than pinning the two-level "
    "path.  Pair graph cell-bounded, component loop edge-sized, final "
    "step one id-only left join - vectors never shuffle after scoring.",
)
def d29_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _emb_materialized(spark, sf_dir, dedup.semantic_dedup, aqe=False)
