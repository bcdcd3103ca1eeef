"""The benchmark's workloads. Each one is built from a seed, set up once
per run (that time is ``setup_s``), then driven op by op through the
program's public entry points. Every op's output is checked.

``er_cold``      one op = ``Pipeline.run`` on a fresh warehouse (Q1,
                 ``webr run``): all seven stages, seven checkpoints.
``record_query`` one op = one ``match_records(...).collect()`` request
                 against entity tables built during set-up (Q3,
                 ``webr query``); a closed loop with one client.
"""

from __future__ import annotations

import hashlib
import os
import random
import re
import shutil
import time
from contextlib import nullcontext

import pandas as pd

from webr import schema, spec
from webr.engine import Pipeline
from webr.evalm import query_eval
from webr.oracle.oracle import pairwise_f1
from webr.query import match_records
from webr.synth import generate_pages, pages_to_pandas

from spans import self_times, union_length

# The corpus is the first PAGES pages of synth.generate_pages at SCALE
# (3.8k-4.8k pages over seeds 1-40), so its size does not vary with the
# seed. An er_cold op on it costs ~11 s on 4 cores, nearly all of it
# per-stage Spark overhead; at scale 2 (10.6k pages) it costs ~15 s and a
# run no longer stays near a minute (see README.md).
SCALE = 1.25
PAGES = 3000
INPUT_FILES = 64        # the corpus is a 64-file parquet table, as in bench.py
F1_MIN = 0.99
# one record_query request: re-submitted corpus pages, text-perturbed
# near-duplicates and pages by an author the corpus does not have
BATCH = {"resubmit": 3, "near_dup": 2, "unseen": 1}
WARM_REQUESTS = 3       # the first requests after the build cost 1.1-1.5x
PAGE_COLS = [f.name for f in schema.PAGES.fields]


class Corpus:
    """The synthetic corpus for one seed, with its hidden entity ids."""

    def __init__(self, seed: int):
        self.seed = seed
        pages = generate_pages(seed=seed, scale=SCALE)
        if len(pages) < PAGES:
            raise ValueError(f"seed {seed} generates {len(pages)} pages, "
                             f"fewer than {PAGES}")
        self.pages = pages_to_pandas(pages[:PAGES])
        self.path = None

    def write(self, work: str) -> str:
        """Write the pages as a parquet table of ``INPUT_FILES`` files with
        pyarrow, so that preparing the input starts no Spark job."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        self.path = os.path.join(work, "pages")
        os.makedirs(self.path)
        table = pa.Table.from_pandas(
            self.pages[PAGE_COLS], preserve_index=False,
            schema=pa.schema([("url", pa.string(), False),
                              ("warc_ts", pa.timestamp("us", tz="UTC")),
                              ("html", pa.binary()), ("text", pa.string()),
                              ("lang", pa.string())]))
        step = -(-len(table) // INPUT_FILES)
        for k in range(INPUT_FILES):
            pq.write_table(table.slice(k * step, step),
                           os.path.join(self.path, f"part-{k:05d}.parquet"))
        return self.path

    def gold(self) -> pd.DataFrame:
        return pd.DataFrame({"url": self.pages["url"],
                             "cluster_id": self.pages["entity_id"],
                             "is_noise": False})


def clusters_digest(clusters: pd.DataFrame) -> str:
    rows = sorted(zip(clusters["url"], clusters["cluster_id"].astype(int),
                      clusters["is_noise"].astype(bool)))
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


def check_er(out: dict, corpus: Corpus) -> dict:
    """Pairwise F1 of the clusters against the generator's entity ids,
    over the pipeline's own candidate pairs, and a digest of the clusters."""
    clusters = out["clusters"].select("url", "cluster_id",
                                      "is_noise").toPandas()
    pairs = out["pairs"].select("url_1", "url_2").toPandas()
    return {"f1": pairwise_f1(clusters, corpus.gold(), pairs),
            "digest": clusters_digest(clusters),
            "clusters": int(clusters.loc[~clusters.is_noise,
                                         "cluster_id"].nunique())}


# the Spark work a stage's job group did, as SparkStatus.attribute counts it
STAGE_STATS = ("jobs", "tasks", "exec_cpu_s", "exec_run_s", "py_run_s",
               "to_py_mb", "from_py_mb", "shuffle_write_mb", "spill_mb",
               "task_skew")


def _nospan(*_a, **_k):
    return nullcontext()


class ErCold:
    name = "er_cold"

    def __init__(self, spark, corpus: Corpus, work: str):
        self.spark = spark
        self.corpus = corpus
        self.work = work
        self.input_id = f"perfbench-seed{corpus.seed}"
        self.reference = None   # the warm-up op's check result
        self.sizes = {}

    def _run(self, tag: str, tracer=None, parent=None):
        wh = os.path.join(self.work, f"wh_{tag}")
        pipe = Pipeline(self.spark, wh, input_id=self.input_id)
        if tracer is not None:
            stage = pipe.wh.stage

            def traced_stage(table, *a, **kw):
                with tracer.span(table, parent=parent,
                                 group=f"{tag}:{table}"):
                    return stage(table, *a, **kw)
            pipe.wh.stage = traced_stage
        out = pipe.run(self.spark.read.parquet(self.corpus.path))
        return pipe, out

    def setup(self) -> None:
        """One untimed warm-up op; its checked output is the reference
        every timed op must reproduce."""
        pipe, out = self._run("warmup")
        self.reference = check_er(out, self.corpus)
        self.sizes = {"pages": len(self.corpus.pages),
                      "pairs": pipe.wh.manifest("pairs")["rows"],
                      "vocab_rows": pipe.wh.manifest("idf")["rows"],
                      "clusters": self.reference["clusters"]}
        shutil.rmtree(pipe.wh.root)

    def input_pages(self) -> int:
        return len(self.corpus.pages)

    def op(self, i: int, tracer=None, status=None):
        """Run one op; returns (wall seconds, finish) where ``finish()``
        checks the output untimed and returns (ok, detail, layers)."""
        tag = f"op{i}"
        span = tracer.span if tracer else _nospan
        t0 = time.perf_counter()
        with span("er_cold.op", group=tag) as op_id:
            pipe, out = self._run(tag, tracer, op_id)
        wall = time.perf_counter() - t0

        def finish():
            chk = check_er(out, self.corpus)
            ok = (chk["f1"] >= F1_MIN
                  and chk["digest"] == self.reference["digest"])
            layers = None
            if tracer is not None:
                layers = self._layers(tag, pipe, tracer, status, op_id)
            shutil.rmtree(pipe.wh.root)
            return ok, chk, layers
        return wall, finish

    def _layers(self, tag, pipe, tracer, status, op_id) -> dict:
        stats = status.attribute({f"{tag}:{s}" for s in Pipeline.STAGES})
        spans = {s.name: s for s in tracer.spans if s.parent == op_id}
        layers = {}
        for s in Pipeline.STAGES:
            m = pipe.wh.manifest(s)
            sp = spans.get(s)
            layers[s] = {"wall_s": sp.wall if sp else 0.0,
                         "rows_out": m["rows"] if m else 0,
                         **{k: stats[f"{tag}:{s}"][k] for k in STAGE_STATS}}
        files = nbytes = 0
        for root, _dirs, names in os.walk(pipe.wh.root):
            for n in names:
                files += n.endswith(".parquet")
                nbytes += os.path.getsize(os.path.join(root, n))
        layers["catalog"] = {"files_written": files,
                             "mb_written": nbytes / 1e6}
        layers["op"] = {"self_s": self_times(tracer.spans)[op_id]}
        return layers

    def run_ok(self) -> bool:
        return self.reference["f1"] >= F1_MIN

    def summary(self) -> dict:
        return {"warmup": self.reference}


class RecordQuery:
    name = "record_query"

    def __init__(self, spark, corpus: Corpus, work: str):
        self.spark = spark
        self.corpus = corpus
        self.work = work
        self.results: list[pd.DataFrame] = []
        self.gold: list[tuple] = []
        # [hits, total] of rank-1 answers that are counted, not checked
        self.counted = {"near_dup_top1": [0, 0], "shared_name_top1": [0, 0]}

    def setup(self) -> None:
        """Build the entity tables (a full pipeline run), then send
        ``WARM_REQUESTS`` untimed requests."""
        pipe = Pipeline(self.spark, os.path.join(self.work, "wh"),
                        input_id=f"perfbench-seed{self.corpus.seed}")
        out = pipe.run(self.spark.read.parquet(self.corpus.path))
        self.build_check = check_er(out, self.corpus)
        self.tables = {k: out[k] for k in ("idf", "entities", "clusters",
                                           "mention_feats")}
        cl = out["clusters"].select("url", "cluster_id",
                                    "is_noise").toPandas()
        member = cl[~cl.is_noise]
        self.cluster_of = dict(zip(member.url, member.cluster_id.astype(int)))
        self.shared_name = _shared_name_clusters(
            out["entities"].select("cluster_id", "last",
                                   "first_initial").toPandas())
        pages = self.corpus.pages
        self.pool = pages[pages.url.isin(self.cluster_of)].reset_index(
            drop=True)
        self.sizes = {"pages": len(pages),
                      "pairs": pipe.wh.manifest("pairs")["rows"],
                      "vocab_rows": pipe.wh.manifest("idf")["rows"],
                      "clusters": self.build_check["clusters"]}
        self.warm_walls = [self._request(self.batch(-1 - i))[0]
                           for i in range(WARM_REQUESTS)]

    def input_pages(self) -> int:
        return sum(BATCH.values())

    def batch(self, i: int) -> tuple[pd.DataFrame, dict]:
        """Query pages of request ``i`` and, per page, its kind and the
        cluster it came from."""
        rng = random.Random(self.corpus.seed * 1_000_003 + i)
        picks = self.pool.iloc[rng.sample(range(len(self.pool)),
                                          BATCH["resubmit"]
                                          + BATCH["near_dup"])]
        rows, expect = [], {}
        for k, (_, p) in enumerate(picks.iterrows()):
            row = p[PAGE_COLS].to_dict()
            kind = "resubmit" if k < BATCH["resubmit"] else "near_dup"
            if kind == "near_dup":
                row["url"] = f"{p.url}-nd{i}"
                row["html"] = _perturb(p.html, rng)
                row["text"] = ""
            rows.append(row)
            expect[row["url"]] = (kind, self.cluster_of[p.url])
        for k in range(BATCH["unseen"]):
            url = f"https://unseen.example.net/p/q{i}-{k}"
            rows.append({"url": url, "warc_ts": pd.Timestamp("2024-06-01"),
                         "html": _unseen_html(rng), "text": "",
                         "lang": "eng"})
            expect[url] = ("unseen", None)
        return pd.DataFrame(rows)[PAGE_COLS], expect

    def _request(self, batch, tracer=None, tag=None):
        qpd, _ = batch
        span = tracer.span if tracer else _nospan
        t = self.tables
        t0 = time.perf_counter()
        with span("record_query.request", group=tag) as rid:
            with span("createDataFrame", parent=rid):
                qdf = self.spark.createDataFrame(qpd, schema=schema.PAGES)
            with span("match_records", parent=rid):
                res = match_records(qdf, t["idf"], t["entities"],
                                    t["clusters"], t["mention_feats"])
            with span("collect", parent=rid):
                rows = res.collect()
        return time.perf_counter() - t0, rows, rid

    def op(self, i: int, tracer=None, status=None):
        batch = self.batch(i)
        tag = f"req{i}"
        wall, rows, rid = self._request(batch, tracer, tag)

        def finish():
            res = pd.DataFrame([r.asDict() for r in rows],
                               columns=["q_url", "cluster_id", "votes",
                                        "cluster_cos", "rank"])
            ok, detail = self._check(res, batch[1])
            layers = None
            if tracer is not None:
                st = status.attribute({tag})[tag]
                span = next(s for s in tracer.spans if s.id == rid)
                covered = union_length(st["job_intervals"], span.start,
                                       span.end)
                layers = {"query": {
                    "jobs_per_req": st["jobs"],
                    "stages_per_req": st["stages"],
                    "tasks_per_req": st["tasks"],
                    "exec_cpu_s_per_req": st["exec_cpu_s"],
                    "py_run_s_per_req": st["py_run_s"],
                    "driver_s_per_req": span.wall - covered}}
            return ok, detail, layers
        return wall, finish

    def _check(self, res: pd.DataFrame, expect: dict):
        """A re-submitted page must rank its own cluster first, or, when
        another cluster has the same name key, return it at some rank; an
        unseen-author page must return nothing. Near-duplicate and
        shared-name rank-1 answers are counted."""
        top1 = res[res["rank"] == 1].set_index("q_url")["cluster_id"]
        wrong = []
        for url, (kind, cid) in expect.items():
            got = res[res.q_url == url]
            if kind == "unseen":
                self.gold.append((url, None))
                if len(got):
                    wrong.append([url, None, got.to_dict("records")])
                continue
            first = url in top1.index and int(top1[url]) == cid
            if kind == "near_dup":
                _count(self.counted["near_dup_top1"], first)
                continue
            self.gold.append((url, cid))
            if cid in self.shared_name:
                _count(self.counted["shared_name_top1"], first)
                ok = cid in set(got.cluster_id.astype(int))
            else:
                ok = first
            if not ok:
                wrong.append([url, cid, got.to_dict("records")])
        self.results.append(res[["q_url", "cluster_id", "rank"]])
        detail = {"returned": len(res)}
        if wrong:
            detail["wrong"] = wrong
        return not wrong, detail

    def run_ok(self) -> bool:
        """The build's F1, and ``evalm.query_eval`` over every timed
        request: no re-submitted page missed its own cluster, every unseen
        author got an empty answer, and accuracy@1 agrees with the
        per-request checks."""
        if self.build_check["f1"] < F1_MIN or not self.gold:
            return False
        res = pd.concat(self.results, ignore_index=True)
        res["cluster_id"] = res["cluster_id"].astype("int64")
        res["rank"] = res["rank"].astype("int64")
        r = self.spark.createDataFrame(
            res, "q_url string, cluster_id long, rank long")
        g = self.spark.createDataFrame(
            self.gold, "q_url string, cluster_id long")
        row = query_eval(r, g, k=spec.TOP_K).collect()[0]
        self.eval = row.asDict()
        n_gold = row.n_with_gold
        shared_hits, shared_n = self.counted["shared_name_top1"]
        expected_acc1 = round((n_gold - shared_n + shared_hits)
                              / max(n_gold, 1), 6)
        return (row.n_missed == 0 and row.no_match_correct == 1.0
                and row.acc_at_1 == expected_acc1)

    def summary(self) -> dict:
        return {"build": self.build_check, "query_eval": self.eval,
                "warm_request_walls": self.warm_walls, **self.counted}


def _count(acc: list, hit: bool) -> None:
    acc[0] += hit
    acc[1] += 1


def _shared_name_clusters(entities: pd.DataFrame) -> set[int]:
    """Clusters whose name key (last name, first initial; an empty
    initial matches any) is also another cluster's. ``match_records``
    ranks the candidates of one key by member votes, so a page of the
    smaller of two same-name entities can rank the larger one first."""
    out = set()
    for _, grp in entities.groupby("last"):
        rows = list(zip(grp.cluster_id.astype(int), grp.first_initial))
        for a, fa in rows:
            if any(b != a and (fa == fb or "" in (fa, fb))
                   for b, fb in rows):
                out.add(a)
    return out


def _perturb(html: bytes, rng: random.Random) -> bytes:
    """Drop every seventh body token and swap two others."""
    text = html.decode("utf-8")
    m = re.search(r"<[pP]>(.*?)</[pP]>", text, re.S)
    toks = m.group(1).split(" ")
    toks = [t for j, t in enumerate(toks) if j % 7 != 3]
    a, b = rng.sample(range(len(toks)), 2)
    toks[a], toks[b] = toks[b], toks[a]
    return (text[:m.start(1)] + " ".join(toks) + text[m.end(1):]).encode()


def _unseen_html(rng: random.Random) -> bytes:
    def word(n):
        return "".join(rng.choice("bcdfghjklmnpqrstvwxz") for _ in range(n))
    name = f"{word(5).title()} Zq{word(6)}"
    body = " ".join(f"unseen{rng.randrange(10_000)}" for _ in range(60))
    return (f"<html><head><title>{word(7)} {word(6)}</title></head><body>"
            f"<h1>{name}</h1><p>{body}</p></body></html>").encode()


WORKLOADS = {w.name: w for w in (ErCold, RecordQuery)}
