"""Incremental record-based query (SURVEY §3.3, ref record_based_query.py):
match new page records against existing entity clusters without
re-clustering.

Two stages, exactly the reference's shape:
  1. candidate clusters share the name key (last, first-initial)
     (ref record_based_query.py:24-25, J5) and pass a cluster-profile
     tf-idf cosine gate (CLUSTER_EPS analog, ref :72-93, C6 stage 1);
  2. survivors are re-ranked by member votes: count of members whose full
     pairwise score >= RECORD_EPS; clusters keep >=MIN_VOTES votes (>=1
     when the cluster has <2 members) (ref :95-127, A7), ranked by votes
     desc then stage-1 cosine, top-K (W1).

A query batch is small and the corpus is not, so the split is by size:
everything sized by the batch runs on the driver through the shared
kernels, and the corpus tables are read only through filtered scans
(point lookups by token, name key and cluster id) — no Python worker, no
shuffle of a corpus table, no whole-vocabulary broadcast.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from webr import spec
from webr.engine import mention_feats_batch
from webr.features import (
    MEMBER_COLUMNS, score_pairs_indexed, sparse_cosine_sorted, token_hash,
)
from webr.mentions import derive_mentions

RESULT_SCHEMA = ("q_url string, cluster_id long, votes long, "
                 "cluster_cos double, rank int")


def _query_feats(query_pages: DataFrame, idf: DataFrame) -> pd.DataFrame:
    """The batch's MENTION_FEATS rows, built on the driver by the corpus's
    own extract and weight kernels with the CORPUS idf (a query must not
    shift corpus statistics). Only the idf rows of the batch's tokens are
    fetched. A url submitted twice in one batch is matched once."""
    cols = ["url", "html", "text"]
    if "warc_ts" in query_pages.columns:
        cols.append("warc_ts")
    pages = query_pages.select(*cols).toPandas().drop_duplicates("url")
    mentions = derive_mentions(pages.reset_index(drop=True))
    toks = sorted({t for ts in mentions["body_toks"] for t in ts})
    idf_map = {}
    if toks:
        idf_map = {r["token"]: r["idf"] for r in
                   idf.where(_token_in(toks))
                   .select("token", "idf").collect()}
    return mention_feats_batch(mentions, idf_map)


def _token_in(toks: list[str]) -> Column:
    """``token IN (...)`` parsed from ONE SQL string. ``Column.isin``
    makes a py4j call per literal, ~0.5 ms each, and a batch has hundreds
    of distinct tokens: it would be the largest driver cost of a request."""
    quoted = ("'" + t.replace("\\", "\\\\").replace("'", "\\'") + "'"
              for t in toks)
    return F.expr(f"token IN ({', '.join(quoted)})")


def _profile_arrays(profile: dict | None) -> tuple[list, list, float]:
    """Entity profiles keep human-readable tokens; hash them to the same
    sorted int64 id space as the mention weight arrays."""
    entries = sorted((token_hash(t), v) for t, v in (profile or {}).items())
    vals = [v for _, v in entries]
    acc = 0.0
    for v in vals:
        acc += v * v
    return [h for h, _ in entries], vals, acc ** 0.5


def _candidates(qf: pd.DataFrame, entities: DataFrame) -> pd.DataFrame:
    """Stage 1: (q_url, cluster_id, n_members, cluster_cos) of the
    clusters sharing a query's name key and passing the profile-cosine
    gate. The name-key join runs in Spark with the batch's keys
    broadcast; the cosine runs here."""
    spark = entities.sparkSession
    keys = spark.createDataFrame(
        pd.DataFrame({"q_url": qf["url"], "q_last": qf["last"],
                      "q_first": qf["first"]}),
        "q_url string, q_last string, q_first string")
    q = keys.select("q_url", "q_last",
                    F.substring("q_first", 1, 1).alias("q_fi"))
    rows = (F.broadcast(q).join(
        entities,
        (q.q_last == entities.last)
        & ((q.q_fi == entities.first_initial) | (q.q_fi == F.lit(""))
           | (entities.first_initial == F.lit(""))))
        .select("q_url", "cluster_id", "n_members", "profile")
        .collect())
    w = {u: (t, v, n) for u, t, v, n in
         zip(qf["url"], qf["w_toks"], qf["w_vals"], qf["w_norm"])}
    profiles: dict = {}
    out = []
    for r in rows:
        cid = r["cluster_id"]
        if cid not in profiles:
            profiles[cid] = _profile_arrays(r["profile"])
        cos = sparse_cosine_sorted(*w[r["q_url"]], *profiles[cid])
        if cos >= spec.CLUSTER_EPS:
            out.append((r["q_url"], cid, r["n_members"], cos))
    return pd.DataFrame(out, columns=["q_url", "cluster_id", "n_members",
                                      "cluster_cos"])


def _ranked(qf: pd.DataFrame, cand: pd.DataFrame, clusters: DataFrame,
            mention_feats: DataFrame) -> pd.DataFrame:
    """Stage 2: score each query against every member of its candidate
    clusters (members fetched by a broadcast cluster-id filter on the
    mention_feats scan), keep clusters with enough votes, rank them."""
    cids = sorted({int(c) for c in cand["cluster_id"]})
    if not cids:
        return pd.DataFrame(columns=["q_url", "cluster_id", "votes",
                                     "cluster_cos", "rank"])
    wanted = (clusters.where(~F.col("is_noise")
                             & F.col("cluster_id").isin(cids))
              .select("url", "cluster_id"))
    members = (mention_feats.join(F.broadcast(wanted), "url")
               .select("cluster_id", *MEMBER_COLUMNS).toPandas())
    # one member table: the batch's rows first, then the fetched members
    memb = {c: qf[c].tolist() + members[c].tolist() for c in MEMBER_COLUMNS}
    q_idx = {u: i for i, u in enumerate(qf["url"])}
    by_cluster = members.groupby("cluster_id").indices
    i1, i2, owner = [], [], []
    for k, (qu, cid) in enumerate(zip(cand["q_url"], cand["cluster_id"])):
        for j in by_cluster.get(cid, ()):
            i1.append(q_idx[qu])
            i2.append(len(qf) + int(j))
            owner.append(k)
    scores = score_pairs_indexed(memb, i1, i2)["score"]
    votes = [0] * len(cand)
    for k, s in zip(owner, scores):
        votes[k] += s >= spec.RECORD_EPS
    res = cand.assign(votes=votes)
    min_votes = np.where(res["n_members"] < 2, 1, spec.MIN_VOTES)
    res = (res[res["votes"] >= min_votes]
           .sort_values(["q_url", "votes", "cluster_cos", "cluster_id"],
                        ascending=[True, False, False, True]))
    res["rank"] = res.groupby("q_url").cumcount() + 1
    return res[res["rank"] <= spec.TOP_K]


def match_records(query_pages: DataFrame, idf: DataFrame,
                  entities: DataFrame, clusters: DataFrame,
                  mention_feats: DataFrame) -> DataFrame:
    """-> (q_url, cluster_id, votes, cluster_cos, rank): top-K existing
    clusters for each query page; empty result for a query = no match
    (ref record_based_query_exp1.py:166-174 'no-match correct').

    Work sized by the batch runs on the driver with the shared kernels:
    ``derive_mentions`` + ``mention_feats_batch`` for the query features,
    the profile cosine (``sparse_cosine_sorted``) for stage 1, and
    ``score_pairs_indexed`` + votes + ranking for stage 2. Spark only
    reads the corpus tables, through filtered scans with no shuffle and no
    Python worker: idf rows of the batch's tokens, entities sharing a
    batch name key (broadcast join), and the mention_feats rows of the
    surviving clusters' members (broadcast cluster-id join).

    The driver holds the batch, the idf rows of its tokens, its candidate
    entities and the members of surviving clusters — never the whole
    vocabulary. Unlike a lazy plan, the call reads the corpus tables
    eagerly; the returned DataFrame is built from the driver-side result.

    Batch-friendly: pass MANY query pages in one call and each lookup
    runs ONCE for the whole batch (the analog of ref
    record_based_query_exp2.py:124-150's per-name-key profile cache; here
    a cluster's profile is also hashed once per call). Tested with a
    100-query batch in tests/test_query.py."""
    spark = query_pages.sparkSession
    qf = _query_feats(query_pages, idf)
    res = _ranked(qf, _candidates(qf, entities), clusters, mention_feats)
    out = pd.DataFrame({
        "q_url": res["q_url"].astype(object),
        "cluster_id": res["cluster_id"].astype("int64"),
        "votes": res["votes"].astype("int64"),
        "cluster_cos": res["cluster_cos"].astype("float64"),
        "rank": res["rank"].astype("int32")})
    # Spark's round (HALF_UP on the decimal value), not Python's
    return (spark.createDataFrame(out, RESULT_SCHEMA)
            .select("q_url", "cluster_id", "votes",
                    F.round("cluster_cos", 9).alias("cluster_cos"),
                    "rank"))
