"""Incremental record-based query (C6): held-in pages must match their own
cluster at rank 1; unmatchable records must return no rows (the reference's
no-match-correct notion, record_based_query_exp1.py:166-174)."""

import datetime as dt
import random
import re
from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Window

from webr import schema, spec
from webr.engine import build_mention_feats, build_mentions
from webr.features import score_pairs, sparse_cosine_sorted
from webr.query import match_records

PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]
UNSEEN_HTML = (b"<html><head><title>zzz</title></head><body>"
               b"<h1>Xqz Vvkw</h1><p>unseen tokens qqq www eee</p>"
               b"</body></html>")


def test_query_matches_own_cluster(spark, pipeline_out, corpus_pd):
    clusters = pipeline_out["clusters"]
    non_noise = (clusters.where(~F.col("is_noise"))
                 .limit(500).toPandas())
    # pick 5 urls from distinct clusters
    picks = (non_noise.drop_duplicates("cluster_id").head(5))
    urls = list(picks.url)
    expected = dict(zip(picks.url, picks.cluster_id))

    qpages = spark.createDataFrame(
        corpus_pd[corpus_pd.url.isin(urls)]
        [["url", "warc_ts", "html", "text", "lang"]],
        schema=schema.PAGES)
    res = match_records(qpages, pipeline_out["idf"],
                        pipeline_out["entities"], clusters,
                        pipeline_out["mention_feats"]).toPandas()
    top1 = res[res["rank"] == 1].set_index("q_url")["cluster_id"].to_dict()
    for u in urls:
        assert top1.get(u) == expected[u], (u, top1.get(u), expected[u])


def test_query_batch_shares_candidate_join(spark, pipeline_out, corpus_pd):
    """Batch query path (ref record_based_query_exp2.py:124-150 caches
    cluster profiles by name key across queries): 100 query pages in ONE
    match_records call share the stage-1 entity join and each still ranks
    its own cluster first."""
    clusters = pipeline_out["clusters"]
    non_noise = clusters.where(~F.col("is_noise")).toPandas()
    picks = non_noise.head(100)
    urls = list(picks.url)
    expected = dict(zip(picks.url, picks.cluster_id))
    qpages = spark.createDataFrame(
        corpus_pd[corpus_pd.url.isin(urls)]
        [["url", "warc_ts", "html", "text", "lang"]],
        schema=schema.PAGES)
    res = match_records(qpages, pipeline_out["idf"],
                        pipeline_out["entities"], clusters,
                        pipeline_out["mention_feats"]).toPandas()
    top1 = res[res["rank"] == 1].set_index("q_url")["cluster_id"].to_dict()
    assert len(top1) == len(urls)
    for u in urls:
        assert top1.get(u) == expected[u], (u, top1.get(u), expected[u])


def test_query_eval_exact_counts(spark):
    """query_eval arithmetic on a hand-built result/gold table: every
    count and ratio is exact (ref exp1:320-345 accuracy@K / avg rank /
    no-match correctness)."""
    from webr.evalm import query_eval
    # q1: gold at rank 1; q2: gold at rank 3; q3: gold exists, absent
    # from results (miss, empty answer); q4: no gold, empty result
    # (correct no-match); q5: no gold but a result came back (incorrect
    # no-match); q6: gold exists but only WRONG clusters returned (miss
    # with a non-empty answer — must count the same as q3)
    res = spark.createDataFrame(
        [("q1", 10, 1), ("q1", 11, 2),
         ("q2", 20, 1), ("q2", 21, 2), ("q2", 22, 3),
         ("q5", 50, 1), ("q6", 99, 1)],
        "q_url string, cluster_id long, rank long")
    gold = spark.createDataFrame(
        [("q1", 10), ("q2", 22), ("q3", 30), ("q4", None), ("q5", None),
         ("q6", 60)],
        "q_url string, cluster_id long")
    row = query_eval(res, gold, k=10).toPandas().iloc[0]
    assert row.n_queries == 6 and row.n_with_gold == 4
    assert row.acc_at_1 == round(1 / 4, 6)
    assert row.acc_at_k == round(2 / 4, 6)
    assert row.avg_rank == 2.0          # gold ranks found: 1 and 3
    assert row.n_missed == 2            # q3 (empty) + q6 (wrong clusters)
    assert row.no_match_correct == 0.5  # q4 yes, q5 no
    # tighter k drops q2's rank-3 gold hit (q2 becomes a miss too)
    row2 = query_eval(res, gold, k=2).toPandas().iloc[0]
    assert row2.acc_at_k == round(1 / 4, 6) and row2.avg_rank == 1.0
    assert row2.n_missed == 3


def test_query_eval_pipeline_perfect(spark, pipeline_out, corpus_pd):
    """Held-in pages evaluated against their own clusters: accuracy@1 = 1,
    avg rank = 1, and the unmatchable record counts as a correct
    no-match."""
    from webr import spec
    from webr.evalm import query_eval
    clusters = pipeline_out["clusters"]
    non_noise = clusters.where(~F.col("is_noise")).limit(500).toPandas()
    picks = non_noise.drop_duplicates("cluster_id").head(4)
    urls = list(picks.url)
    import pandas as pd
    nm_url = "https://nowhere.example/eval-nomatch"
    nomatch = pd.DataFrame([{
        "url": nm_url, "warc_ts": pd.Timestamp("2024-01-01"),
        "html": (b"<html><head><title>zzz</title></head><body>"
                 b"<h1>Xqz Vvkw</h1><p>unseen tokens qqq www eee</p>"
                 b"</body></html>"),
        "text": "", "lang": "eng"}])
    qpd = pd.concat(
        [corpus_pd[corpus_pd.url.isin(urls)]
         [["url", "warc_ts", "html", "text", "lang"]], nomatch],
        ignore_index=True)
    qpages = spark.createDataFrame(qpd, schema=schema.PAGES)
    res = match_records(qpages, pipeline_out["idf"],
                        pipeline_out["entities"], clusters,
                        pipeline_out["mention_feats"])
    gold = spark.createDataFrame(
        [(u, int(c)) for u, c in zip(picks.url, picks.cluster_id)]
        + [(nm_url, None)], "q_url string, cluster_id long")
    row = query_eval(res, gold, k=spec.TOP_K).toPandas().iloc[0]
    assert row.n_queries == 5 and row.n_with_gold == 4
    assert row.acc_at_1 == 1.0 and row.acc_at_k == 1.0
    assert row.avg_rank == 1.0 and row.n_missed == 0
    assert row.no_match_correct == 1.0


def test_query_no_match(spark, pipeline_out):
    html = (b"<html><head><title>zzz</title></head><body>"
            b"<h1>Xqz Vvkw</h1><p>unseen tokens qqq www eee</p>"
            b"</body></html>")
    qpages = spark.createDataFrame(
        [("https://nowhere.example/1", dt.datetime(2024, 1, 1), html, "",
          "eng")], schema=schema.PAGES)
    res = match_records(qpages, pipeline_out["idf"],
                        pipeline_out["entities"], pipeline_out["clusters"],
                        pipeline_out["mention_feats"]).toPandas()
    assert len(res) == 0


# --------------------------------------------------------------------------
# Reference: the all-Spark formulation match_records replaced (query
# features from build_mentions + build_mention_feats, stage 1 as a
# broadcast name-key join with a mapInPandas profile cosine, stage 2 as
# a member join + mapInPandas scorer + votes + row_number window). The
# differential tests below require the driver-side plan to return exactly
# its rows.

def _ref_stage1(query_feats, entities):
    q = query_feats.select(
        F.col("url").alias("q_url"),
        F.col("last").alias("q_last"),
        F.substring("first", 1, 1).alias("q_fi"),
        "w_toks", "w_vals", "w_norm")
    cand = (F.broadcast(q).join(
        entities,
        (q.q_last == entities.last)
        & ((q.q_fi == entities.first_initial) | (q.q_fi == F.lit(""))
           | (entities.first_initial == F.lit("")))))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from webr.features import token_hash
        for pdf in batches:
            cos = []
            for toks, vals, nrm, prof in zip(
                    pdf["w_toks"], pdf["w_vals"], pdf["w_norm"],
                    pdf["profile"]):
                prof = prof if isinstance(prof, dict) else {}
                entries = sorted((token_hash(t), v) for t, v in prof.items())
                p_vals = [v for _, v in entries]
                acc = 0.0
                for v in p_vals:
                    acc += v * v
                cos.append(sparse_cosine_sorted(
                    list(toks), list(vals), nrm, [h for h, _ in entries],
                    p_vals, acc ** 0.5))
            pdf = pdf.copy()
            pdf["cluster_cos"] = cos
            yield pdf[["q_url", "cluster_id", "n_members", "cluster_cos"]]

    return (cand.mapInPandas(gen, "q_url string, cluster_id long, "
                                  "n_members long, cluster_cos double")
            .where(F.col("cluster_cos") >= spec.CLUSTER_EPS))


def _ref_stage2(query_feats, survivors, clusters, mention_feats):
    side = [f.name for f in schema.MENTION_FEATS.fields if f.name != "url"]
    members = (survivors
               .join(clusters.where(~F.col("is_noise")), "cluster_id")
               .join(mention_feats.hint("shuffle_hash"), "url"))
    qside = query_feats.select(F.col("url").alias("url_1"),
                               *[F.col(c).alias(f"{c}_1") for c in side])
    pair_cols = [f.name for f in schema.PAIRS.fields]
    paired = (members
              .select(F.col("q_url").alias("url_1"),
                      F.col("url").alias("url_2"),
                      "cluster_id", "n_members", "cluster_cos",
                      *[F.col(c).alias(f"{c}_2") for c in side])
              .join(F.broadcast(qside), "url_1")
              .withColumn("block_key", F.lit("query")))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[["url_1", "cluster_id", "n_members",
                       "cluster_cos"]].copy()
            out["score"] = score_pairs(pdf[pair_cols])["score"]
            yield out

    scored = paired.mapInPandas(gen, "url_1 string, cluster_id long, "
                                     "n_members long, cluster_cos double, "
                                     "score double")
    votes = (scored.groupBy(F.col("url_1").alias("q_url"), "cluster_id",
                            "n_members", "cluster_cos")
             .agg(F.sum(F.when(F.col("score") >= spec.RECORD_EPS, 1)
                        .otherwise(0)).alias("votes")))
    min_votes = F.when(F.col("n_members") < 2, 1).otherwise(spec.MIN_VOTES)
    return (votes.where(F.col("votes") >= min_votes)
            .withColumn("rank", F.row_number().over(
                Window.partitionBy("q_url").orderBy(
                    F.desc("votes"), F.desc("cluster_cos"),
                    F.asc("cluster_id"))))
            .where(F.col("rank") <= spec.TOP_K)
            .select("q_url", "cluster_id", "votes",
                    F.round("cluster_cos", 9).alias("cluster_cos"), "rank"))


def _reference_match(qpages, idf, entities, clusters, mention_feats):
    qf = build_mention_feats(build_mentions(qpages), idf,
                             vocab_rows=idf.count())
    return _ref_stage2(qf, _ref_stage1(qf, entities), clusters,
                       mention_feats)


def _sorted_rows(df) -> pd.DataFrame:
    return (df.toPandas().sort_values(["q_url", "rank"])
            .reset_index(drop=True))


def _assert_same_as_reference(spark, pipeline_out, qpd):
    qpages = spark.createDataFrame(qpd[PAGE_COLS], schema=schema.PAGES)
    t = [pipeline_out[k] for k in ("idf", "entities", "clusters",
                                   "mention_feats")]
    got = _sorted_rows(match_records(qpages, *t))
    want = _sorted_rows(_reference_match(qpages, *t))
    assert list(got.columns) == ["q_url", "cluster_id", "votes",
                                 "cluster_cos", "rank"]
    assert len(want) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    return got


def _perturb(html: bytes, rng: random.Random) -> bytes:
    """Near-duplicate body: drop every seventh token, swap two others."""
    text = html.decode("utf-8")
    m = re.search(r"<[pP]>(.*?)</[pP]>", text, re.S)
    toks = [t for j, t in enumerate(m.group(1).split(" ")) if j % 7 != 3]
    a, b = rng.sample(range(len(toks)), 2)
    toks[a], toks[b] = toks[b], toks[a]
    return (text[:m.start(1)] + " ".join(toks) + text[m.end(1):]).encode()


def _mixed_batch(pipeline_out, corpus_pd, seed: int) -> pd.DataFrame:
    """Three re-submitted member pages, two near-duplicates of member
    pages and one page by an author the corpus does not have."""
    member = (pipeline_out["clusters"].where(~F.col("is_noise"))
              .select("url").toPandas().url)
    pool = corpus_pd[corpus_pd.url.isin(set(member))].reset_index(drop=True)
    rng = random.Random(seed)
    picks = pool.iloc[rng.sample(range(len(pool)), 5)][PAGE_COLS].copy()
    for k in (3, 4):
        row = picks.index[k]
        picks.loc[row, "url"] = picks.loc[row, "url"] + "-nd"
        picks.loc[row, "html"] = _perturb(picks.loc[row, "html"], rng)
        picks.loc[row, "text"] = ""
    unseen = pd.DataFrame([{
        "url": f"https://unseen.example.net/p/{seed}",
        "warc_ts": pd.Timestamp("2024-06-01"), "html": UNSEEN_HTML,
        "text": "", "lang": "eng"}])
    return pd.concat([picks, unseen], ignore_index=True)


def test_query_matches_reference_one_page(spark, pipeline_out, corpus_pd):
    member = (pipeline_out["clusters"].where(~F.col("is_noise"))
              .limit(1).toPandas().url)
    got = _assert_same_as_reference(
        spark, pipeline_out, corpus_pd[corpus_pd.url.isin(member)])
    assert len(got.q_url.unique()) == 1


def test_query_matches_reference_mixed_batch(spark, pipeline_out,
                                             corpus_pd):
    qpd = _mixed_batch(pipeline_out, corpus_pd, seed=3)
    got = _assert_same_as_reference(spark, pipeline_out, qpd)
    assert qpd.url.iloc[-1] not in set(got.q_url)  # unseen author


def test_query_matches_reference_batch_with_shared_name(
        spark, pipeline_out, corpus_pd):
    """The 100-page batch plus a page whose name key (last, first
    initial) belongs to two clusters, so stage 2 ranks two candidates."""
    ents = pipeline_out["entities"].select(
        "cluster_id", "last", "first_initial").toPandas()
    shared = ents[ents.duplicated(["last", "first_initial"], keep=False)]
    assert len(shared) >= 2, "fixture lost its same-name cluster pair"
    clusters = pipeline_out["clusters"].where(~F.col("is_noise"))
    twin = (clusters.where(F.col("cluster_id") == int(shared.cluster_id
                                                       .iloc[0]))
            .limit(1).toPandas().url)
    urls = set(clusters.toPandas().head(100).url) | set(twin)
    got = _assert_same_as_reference(
        spark, pipeline_out, corpus_pd[corpus_pd.url.isin(urls)])
    assert len(got[got.q_url == twin.iloc[0]]) >= 1


def test_token_lookup_quotes_literals(spark):
    """The idf lookup's one-string IN list matches tokens holding SQL
    quote and escape characters literally."""
    from webr.query import _token_in
    idf = spark.createDataFrame(
        [("a'b", 1.0), ("c\\d", 2.0), ("plain", 3.0), ("other", 4.0),
         ("c\\\\d", 5.0), ("z\\", 6.0)], "token string, idf double")
    got = idf.where(_token_in(["a'b", "c\\d", "plain", "missing", "z\\"]))
    assert sorted(r["token"] for r in got.collect()) == [
        "a'b", "c\\d", "plain", "z\\"]


def test_query_job_budget(spark, pipeline_out, corpus_pd):
    """A 6-page request (create, match, collect) runs at most 7 Spark
    jobs: point lookups on the corpus tables, no per-call ER job."""
    qpd = _mixed_batch(pipeline_out, corpus_pd, seed=5)
    t = [pipeline_out[k] for k in ("idf", "entities", "clusters",
                                   "mention_feats")]
    sc = spark.sparkContext
    group = "webr-test-query-job-budget"
    sc.setJobGroup(group, "record query job budget")
    try:
        qpages = spark.createDataFrame(qpd, schema=schema.PAGES)
        rows = match_records(qpages, *t).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 7, len(jobs)
