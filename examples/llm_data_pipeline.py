"""End-to-end LLM training-data pipeline example.

Drives the scale stack the way a data-curation job would, on the
driver's synthetic documents/embeddings parquet:

    canonical-URL dedup + HTML -> text (crawl stage 0)
    -> corpus profile (sketches)
    -> quality + language filtering
    -> cross-corpus boilerplate line dedup
    -> exact dedup
    -> MinHash LSH near-dup candidates -> Jaccard verify -> clusters
    -> SemDeDup semantic dedup over embeddings
    -> composed embedding stack: sign-LSH cosine pairs -> clusters -> keep-list
    -> benchmark decontamination
    -> DSIR importance weighting toward a target corpus
    -> embedding ANN sanity probe (IVF with a k-means quantizer)
    -> deterministic train/val/test split -> sequence packing
    -> reproducible epoch shuffle -> online embedding-match probe

Every stage is a lazy DataFrame transformation; the only actions are
the stage-count prints. Run:

    python examples/llm_data_pipeline.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from trackintel_spark import get_spark
from trackintel_spark.scale import (
    cosine_topk_bruteforce,
    ivf_topk,
    kmeans_centers,
)
from trackintel_spark.scale.decontaminate import decontaminate
from trackintel_spark.scale.dedup import (
    dedup_clusters,
    dedup_embedding_cosine,
    dedup_exact,
    line_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    semantic_dedup,
)
from trackintel_spark.scale.mixing import dsir_log_weights, dsir_select, fit_ngram_model
from trackintel_spark.scale.profile import corpus_profile
from trackintel_spark.scale.sampling import pack_sequences, shuffle_deterministic, split_by_hash
from trackintel_spark.streaming import embedding_match_stream, index_embedding_corpus
from trackintel_spark.scale.text import detect_language, quality_score, token_count
from trackintel_spark.sources import load_table


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="llm_data_pipeline")
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_table(spark, sf_dir, "documents")
    print(f"documents: {docs.count()}")

    # -1. crawl stage 0 (synthesized here: the driver tables carry no
    # URLs/markup): canonical-URL dedup, then HTML -> text. Both are
    # codegen-only projections — at 100 TB this is a single map stage
    # plus one short-string shuffle for the URL census.
    from trackintel_spark.scale import dedup_url, strip_html_expr

    crawl = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://WWW.Crawl"), (F.col("doc_id") % 100).cast("string"),
            F.lit(".org/page?utm_source=x&v="), (F.col("doc_id") % 3).cast("string"),
        ).alias("url"),
        F.concat(F.lit("<html><body><p>"), "text",
                 F.lit("</p><script>t()</script></body></html>")).alias("html"),
    )
    fetched = dedup_url(crawl)
    print(f"after canonical-URL dedup: {fetched.count()}")
    docs = docs.join(fetched.select("doc_id"), "doc_id", "left_semi").withColumn(
        "text", strip_html_expr(
            F.concat(F.lit("<html><body><p>"), "text",
                     F.lit("</p><script>t()</script></body></html>"))
        )
    )
    print(f"extracted text docs: {docs.count()}")

    # 0. one-pass corpus profile (quantile + HLL sketches)
    prof = corpus_profile(docs, group_by="lang").collect()
    for r in sorted(prof, key=lambda r: r["lang"]):
        print(
            f"  lang={r['lang']}: {r['n_docs']} docs, {r['total_tokens']} tokens, "
            f"~{int(r['vocab_size_approx'])} vocab"
        )

    # 1. quality + language gate (pure column expressions)
    scored = quality_score(detect_language(docs)).withColumn(
        "n_tok", token_count(F.col("text"))
    )
    kept = scored.filter(
        (F.col("quality") >= 0.3) & (F.col("n_tok") >= 5) & F.col("lang_pred").isNotNull()
    )
    print(f"after quality/lang gate: {kept.count()}")

    # 1b. Gopher rules (Rae et al. 2021 A1.1) — thresholds loosened for
    # the short synthetic docs; at web scale the published defaults apply
    from trackintel_spark.scale import gopher_quality_filter

    kept = gopher_quality_filter(kept, min_words=10, min_stop_hits=1, drop=True)
    print(f"after gopher rules: {kept.count()}")

    # 1c. fastText-style discriminative filter (GPT-3/CCNet stage):
    # trained here on the corpus itself vs its token-shuffled copies —
    # in production, train once on a trusted reference sample and
    # model.save() for every later shard
    from trackintel_spark.scale import classifier_score, train_quality_classifier

    clf = train_quality_classifier(kept.select("doc_id", "text"), num_features=1 << 16)
    kept = classifier_score(kept, clf).filter(F.col("quality_prob") > 0.5).drop("quality_prob")
    print(f"after classifier gate: {kept.count()}")

    # 1c'. the deployment shape of the same stage: a FROZEN checkpoint
    # (checked-in term->weight vocabulary) scored map-side with plan
    # literals, gated by GPT-3's Pareto keep lottery instead of a hard
    # threshold — train once, score every shard forever, no model
    # object to ship. Scores here only (the synthetic corpus is all
    # "real", so the lottery keeps nearly everything — shown, not used
    # as a filter).
    from trackintel_spark.scale import linear_quality_score, pareto_keep, portable_uniform
    from trackintel_spark.scale.frozen_quality_model import (
        FROZEN_QUALITY_INTERCEPT,
        FROZEN_QUALITY_WEIGHTS,
    )

    frozen = linear_quality_score(kept, FROZEN_QUALITY_WEIGHTS, FROZEN_QUALITY_INTERCEPT)
    lottery_kept = frozen.filter(
        pareto_keep(F.col("quality_prob"), F.col("doc_id"),
                    u=portable_uniform(F.col("doc_id"), seed=7))
    ).count()
    print(f"frozen-checkpoint lottery keeps: {lottery_kept}")

    # 2a. strip corpus-wide boilerplate lines (C4/RefinedWeb style)
    kept = line_dedup(kept, min_count=3, keep="none").persist()
    print(f"boilerplate lines removed: {kept.agg(F.sum('n_lines_removed')).collect()[0][0]}")

    # 2a'. strip duplicated token SPANS (Lee-et-al-style substring dedup;
    # finer than lines — catches verbatim passages embedded mid-paragraph)
    from trackintel_spark.scale import dedup_substrings

    spans = dedup_substrings(
        kept.drop("n_lines", "n_lines_removed"), window=20, stride=5
    ).persist()
    print(f"duplicated spans removed: {spans.agg(F.sum('n_spans_removed')).collect()[0][0]}")
    kept = spans.drop("n_tokens", "n_tokens_removed", "n_spans_removed")

    # 2b. exact dedup (hash aggregation, md5 shuffle key)
    uniq = dedup_exact(kept.drop("n_lines", "n_lines_removed")).persist()
    print(f"after exact dedup: {uniq.count()}")

    # 3. near-dup: LSH candidates -> exact Jaccard verify -> clusters
    cands = minhash_lsh_candidates(uniq, num_perm=64, bands=16)
    pairs = ngram_jaccard_pairs(uniq, n=3, threshold=0.7, candidates=cands)
    keep_list = dedup_clusters(uniq, pairs)
    survivors = uniq.join(keep_list.filter(F.col("is_canonical")).select("doc_id"), on="doc_id")
    print(f"after near-dedup: {survivors.count()}")

    # 3b. semantic near-dup over embeddings (SemDeDup)
    emb0 = load_table(spark, sf_dir, "embeddings")
    sem = semantic_dedup(emb0, threshold=0.98, n_centers=8, iters=2)
    print(f"semantic dedup keeps: {sem.filter('is_kept').count()} / {sem.count()} vectors")

    # 3c. the COMPOSED embedding dedup stack: sign-LSH bucketed candidate
    # pairs (exact-cosine verified, precision 1) feed the SAME cluster /
    # canonical-selection machinery as the text near-dup path — this is
    # the 1M+ scale recipe (SCALE.md "dedup-stack composition" probe):
    # dedup_embedding_cosine(method='lsh') -> dedup_clusters -> keep-list
    epairs = dedup_embedding_cosine(emb0, threshold=0.98, method="lsh")
    evec = emb0.select(F.col("vec_id").alias("doc_id"))
    ekeep = dedup_clusters(evec, epairs.select("id_a", "id_b"), keep="min_id")
    print(
        "embedding-cluster dedup keeps: "
        f"{ekeep.filter('is_canonical').count()} / {ekeep.count()} vectors"
    )

    # 4. decontaminate against a (mock) benchmark set
    bench = docs.limit(20).select(F.col("doc_id").alias("bench_id"), "text")
    clean = decontaminate(survivors, bench).persist()
    print(f"after decontamination: {clean.count()}")

    # 4b. DSIR: weight the pool toward a (mock) high-quality target
    target = clean.orderBy(F.col("quality").desc()).limit(50)
    t_lp = fit_ngram_model(target, buckets=4096)
    weighted = dsir_log_weights(clean, t_lp)
    picked = dsir_select(weighted, 100, salt="round3")
    print(f"DSIR-selected: {picked.count()} docs")

    # 5. embedding sanity probe: trained IVF vs brute force on 5 queries
    emb = emb0
    queries = emb.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    centers = kmeans_centers(emb, n_centers=8, iters=3)
    exact = {(r.query_id, r.vec_id) for r in cosine_topk_bruteforce(emb, queries, k=5).collect()}
    approx = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(emb, queries, k=5, n_probe=3, centers=centers).collect()
    }
    print(f"IVF recall@5 (3/8 probes): {len(exact & approx) / len(exact):.2f}")

    # 6. deterministic split + sequence packing + epoch shuffle
    split = split_by_hash(clean, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05})
    train = split.filter(F.col("split") == "train").withColumn("n_tokens", F.col("n_tok"))
    packed = pack_sequences(train, max_tokens=2048)
    counts = {r["split"]: r["count"] for r in split.groupBy("split").count().collect()}
    print(f"splits: {counts}; packed train sequences: {packed.count()}")
    # reproducible global training order — write sorted by shuffle_pos
    # and the reader streams the epoch; re-deal with salt="epoch1"
    shuffled = shuffle_deterministic(train, "doc_id", salt="epoch0")
    first = shuffled.orderBy("shuffle_pos").select("doc_id").limit(3).collect()
    print(f"epoch0 order starts: {[r.doc_id for r in first]}")

    # 7. online ingest sibling: the SAME corpus as a match index — a
    # stream of freshly-embedded docs dedups against it statelessly
    # (batch mode here; streaming/embmatch.py for readStream frames)
    index = index_embedding_corpus(emb, n_planes=6)
    probes = emb.limit(50).select(F.col("vec_id").alias("query_id"), "embedding")
    hits = embedding_match_stream(probes, index, min_cosine=0.9, n_planes=6)
    print(f"online near-dup hits at cosine>=0.9: {hits.count()}")


if __name__ == "__main__":
    main()
