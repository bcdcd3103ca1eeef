"""CLI entrypoints mirroring the reference's run scripts
(`python author_disambiguation.py <in> <out>` — SURVEY §3.1 — and
`python record_based_query.py <query.json> <order>` — §3.3):

  python -m webr run   --input pages.parquet --warehouse WH [--input-id ID]
  python -m webr query --warehouse WH --pages query_pages.parquet
                       [--out OUT.parquet]

`run` executes the full checkpointed pipeline (resumable: re-running with
the same warehouse + input-id reuses every completed stage). `query`
matches new page records against the existing entity tables without
re-clustering. Results live in the warehouse as parquet tables.
"""

from __future__ import annotations

import argparse
import sys


def _spark(args):
    from webr.session import get_spark
    return get_spark(app=f"webr-{args.cmd}", master=args.master)


def _auto_input_id(path: str) -> str:
    """Content-derived id: every data file's (relative path, byte size,
    mtime) plus per-parquet-file row counts from the footers (pyarrow
    metadata read, no data scan) — so swapping the input's CONTENT, even
    a same-size in-place rewrite, changes the id and invalidates stale
    checkpoints, per catalog.py's snapshot contract."""
    import os
    from webr.catalog import fingerprint

    def stat_parts(p: str, rel: str) -> str:
        rows = ""
        if p.endswith(".parquet"):
            try:
                import pyarrow.parquet as pq
                rows = str(pq.ParquetFile(p).metadata.num_rows)
            except Exception:
                rows = "?"
        st = os.stat(p)
        return f"{rel}:{st.st_size}:{st.st_mtime_ns}:{rows}"

    parts: list[str] = []
    if os.path.isdir(path):
        for root, _dirs, files in sorted(os.walk(path)):
            for f in sorted(files):
                p = os.path.join(root, f)
                parts.append(stat_parts(p, os.path.relpath(p, path)))
    else:
        parts.append(stat_parts(path, os.path.basename(path)))
    return fingerprint("auto", path, *parts)


def cmd_run(args) -> int:
    from webr.engine import Pipeline
    spark = _spark(args)
    pages = spark.read.parquet(args.input)
    input_id = args.input_id or _auto_input_id(args.input)
    out = Pipeline(spark, args.warehouse, input_id=input_id).run(pages)
    n_pages = out["mentions"].count()
    cl = out["clusters"]
    n_noise = cl.where("is_noise").count()
    n_clusters = out["entities"].count()
    print(f"pages={n_pages} clusters={n_clusters} noise={n_noise} "
          f"warehouse={args.warehouse} input_id={input_id}")
    return 0


def cmd_query(args) -> int:
    from webr.catalog import Warehouse
    from webr.query import match_records
    spark = _spark(args)
    wh = Warehouse(spark, args.warehouse)
    qpages = spark.read.parquet(args.pages)
    res = match_records(qpages, wh.read("idf"), wh.read("entities"),
                        wh.read("clusters"), wh.read("mention_feats"))
    if args.out:
        res.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
    else:
        for r in res.orderBy("q_url", "rank").collect():
            print(f"{r['q_url']}\t{r['cluster_id']}\t{r['votes']}"
                  f"\t{r['rank']}")
    return 0


def cmd_stats(args) -> int:
    """Operability view of the warehouse: per-stage snapshot, row count,
    build wall, lineage edges, per-partition file counters, and observe()
    counters — everything a resume-after-failure needs to audit WITHOUT
    launching a SparkSession (manifests are plain JSON next to the
    parquet). A torn or unreadable manifest is reported and skipped."""
    import os

    from webr.catalog import read_manifest

    root = args.warehouse
    tables = sorted(
        d for d in os.listdir(root)
        if os.path.isfile(os.path.join(root, d, "_manifest.json"))) \
        if os.path.isdir(root) else []
    if not tables:
        print(f"no stage manifests under {root}", file=sys.stderr)
        return 1
    for t in tables:
        man = read_manifest(os.path.join(root, t, "_manifest.json"))
        if man is None:
            print(f"{t}: unreadable manifest")
            continue
        parts = man.get("partitions") or []
        skew = ""
        if parts:
            rows = [p["rows"] for p in parts]
            skew = (f" files={len(parts)} "
                    f"rows/file min={min(rows)} max={max(rows)}")
        counters = man.get("counters") or {}
        cstr = (" counters=" + ",".join(
            f"{k}={v}" for k, v in sorted(counters.items()))
            if counters else "")
        lineage = man.get("lineage") or {}
        lstr = (" lineage<-" + ",".join(sorted(lineage))
                if lineage else "")
        print(f"{t}: rows={man.get('rows')} "
              f"snapshot={str(man.get('snapshot'))[:12]} "
              f"build_s={man.get('build_s')}{skew}{cstr}{lstr}")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="webr")
    p.add_argument("--master", default=None,
                   help="spark master (default env WEBR_MASTER/local[*])")
    sub = p.add_subparsers(dest="cmd", required=True)
    pr = sub.add_parser("run", help="full ER pipeline over a pages table")
    pr.add_argument("--input", required=True)
    pr.add_argument("--warehouse", required=True)
    pr.add_argument("--input-id", default=None)
    pq = sub.add_parser("query", help="match records against clusters")
    pq.add_argument("--warehouse", required=True)
    pq.add_argument("--pages", required=True)
    pq.add_argument("--out", default=None)
    ps = sub.add_parser(
        "stats", help="print stage manifests (rows, lineage, partition "
        "counters) without a SparkSession")
    ps.add_argument("--warehouse", required=True)
    args = p.parse_args(argv)
    return {"run": cmd_run, "query": cmd_query,
            "stats": cmd_stats}[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
