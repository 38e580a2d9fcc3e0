"""CLI entry point — the analog of the reference's ``kaxanuk.data_curator
run`` console command (services/cli.py:155-203).

    python -m data_curator_spark pipeline --input X --output Y --manifest M
    python -m data_curator_spark corpus   --output X --files 10000
    python -m data_curator_spark check    --sf-dir /root/testdata/sf0.01

``pipeline`` runs (or resumes) the quality-filter job; ``corpus``
materializes a deterministic synthetic corpus; ``check`` runs every
driver query against its DuckDB oracle.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="data_curator_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("pipeline", help="run/resume the quality-filter pipeline")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--manifest", required=True)
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument(
        "--near-dup", action="store_true",
        help="enable the corpus-level near-duplicate stage (minhash LSH "
        "+ connected components; boilerplate-bucket guard on by default)",
    )
    p.add_argument(
        "--decontaminate", default=None, metavar="BENCHMARK_PARQUET",
        help="parquet of eval-benchmark docs (column: content); corpus "
        "files sharing a word 5-gram with any benchmark doc are dropped "
        "with drop_reason=contaminated",
    )
    p.add_argument(
        "--span-dedup-bp", type=int, default=None, metavar="BASIS_POINTS",
        help="enable the corpus-level ExactSubstr duplicated-span stage: "
        "drop files whose token coverage by 8-token windows duplicated "
        "anywhere else in the corpus reaches this many basis points "
        "(e.g. 5000 = half the file), drop_reason=dup_spans",
    )
    p.add_argument(
        "--cdc-dup-bp", type=int, default=None, metavar="BASIS_POINTS",
        help="enable the corpus-level content-defined-chunk duplication "
        "stage: drop files whose byte coverage by CDC chunks duplicated "
        "anywhere else in the corpus reaches this many basis points "
        "(shift-robust complement to --span-dedup-bp), "
        "drop_reason=dup_chunks",
    )
    p.add_argument(
        "--repo-min-keep-bp", type=int, default=None, metavar="BASIS_POINTS",
        help="enable repo-level curation: after all per-file decisions, "
        "repos with >=5 files whose kept fraction is below this many "
        "basis points (e.g. 2500 = 25%%) have their remaining kept files "
        "demoted with drop_reason=repo_flagged",
    )
    p.add_argument(
        "--layout", choices=["overwrite", "mvcc"], default="overwrite",
        help="overwrite = one physical copy per bucket (default); "
        "mvcc = immutable run partitions with time travel + vacuum",
    )
    p.add_argument(
        "--reprocess", type=int, nargs="*", default=None,
        help="(mvcc) backfill these bucket ids under a new run",
    )

    s = sub.add_parser("snapshots", help="list the manifest snapshot chain")
    s.add_argument("--manifest", required=True)

    t = sub.add_parser("travel", help="(mvcc) export the table as of a snapshot")
    t.add_argument("--output", required=True)
    t.add_argument("--manifest", required=True)
    t.add_argument("--snapshot", required=True)
    t.add_argument("--to", required=True, help="parquet path for the exported state")

    d = sub.add_parser(
        "diff", help="(mvcc) net row-level changelog between two snapshots"
    )
    d.add_argument("--output", required=True)
    d.add_argument("--manifest", required=True)
    d.add_argument("--from", dest="from_snapshot", default=None,
                   help="older snapshot id (omit = table creation)")
    d.add_argument("--to-snapshot", default=None,
                   help="newer snapshot id (omit = current)")
    d.add_argument("--to", required=True, help="parquet path for the changelog")

    cp = sub.add_parser(
        "compact", help="(mvcc) fold the live selection into one run partition"
    )
    cp.add_argument("--output", required=True)
    cp.add_argument("--manifest", required=True)

    e = sub.add_parser(
        "expire", help="(mvcc) drop old snapshots and reclaim their data files"
    )
    e.add_argument("--output", required=True)
    e.add_argument("--manifest", required=True)
    e.add_argument("--keep-last", type=int, default=1)

    v = sub.add_parser("vacuum", help="(mvcc) delete unreferenced run partitions")
    v.add_argument("--output", required=True)
    v.add_argument("--manifest", required=True)
    v.add_argument(
        "--min-age-sec", type=float, default=24 * 3600,
        help="retention threshold: younger unreferenced dirs may be a "
        "live run between write and commit",
    )

    c = sub.add_parser("corpus", help="write a deterministic synthetic corpus")
    c.add_argument("--output", required=True)
    c.add_argument("--files", type=int, default=10000)
    c.add_argument("--seed", type=int, default=42)

    k = sub.add_parser("check", help="run driver queries vs DuckDB oracles")
    k.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    k.add_argument("queries", nargs="*", help="subset of query names")

    args = ap.parse_args(argv)

    if args.cmd == "corpus":
        from data_curator_spark.pipeline.corpus import write_corpus_parquet

        path = write_corpus_parquet(args.output, args.files, args.seed)
        print(json.dumps({"written": path, "files": args.files, "seed": args.seed}))
        return 0

    if args.cmd == "pipeline":
        from data_curator_spark.session import build_session

        spark = build_session("quality-filter-pipeline")
        benchmark = None
        if args.decontaminate:
            from data_curator_spark.pipeline.runner import read_corpus

            benchmark = read_corpus(spark, args.decontaminate, ["content"])
        if args.layout == "mvcc":
            from data_curator_spark.pipeline.mvcc import run_pipeline_mvcc

            stats = run_pipeline_mvcc(
                spark, args.input, args.output, args.manifest,
                n_buckets=args.buckets,
                reprocess_buckets=set(args.reprocess) if args.reprocess else None,
                near_dup=args.near_dup,
                benchmark=benchmark,
                span_dedup_bp=args.span_dedup_bp,
                cdc_dup_bp=args.cdc_dup_bp,
                repo_min_keep_bp=args.repo_min_keep_bp,
            )
        else:
            from data_curator_spark.pipeline.runner import run_pipeline

            stats = run_pipeline(
                spark, args.input, args.output, args.manifest,
                n_buckets=args.buckets, near_dup=args.near_dup,
                benchmark=benchmark,
                span_dedup_bp=args.span_dedup_bp,
                cdc_dup_bp=args.cdc_dup_bp,
                repo_min_keep_bp=args.repo_min_keep_bp,
            )
        print(json.dumps(stats))
        spark.stop()
        return 0

    def _mvcc_guard(fn):
        # a fresh table has no manifest yet; surface a clear message
        # instead of a raw stack (ADVICE r3). Scope: only a missing-path
        # error (Spark's AnalysisException, or FileNotFoundError from the
        # driver-side Arrow manifest reads) that actually names the
        # MANIFEST path is a missing-manifest — a missing/corrupt DATA
        # path (or any other analysis error) must surface as itself, not
        # misdirect the operator at the manifest (review r4)
        from pyspark.errors import AnalysisException

        try:
            return fn(), 0
        except (AnalysisException, FileNotFoundError) as e:
            if args.manifest and args.manifest in str(e):
                print(
                    f"no manifest found under {args.manifest!r} — run the "
                    "pipeline first ('pipeline --layout mvcc') to create it",
                    file=sys.stderr,
                )
                return None, 1
            raise

    if args.cmd == "snapshots":
        from data_curator_spark.pipeline.runner import snapshot_lineage
        from data_curator_spark.session import build_session

        spark = build_session("snapshots")
        rows, rc = _mvcc_guard(
            lambda: snapshot_lineage(spark, args.manifest)
            .orderBy("committed_at")
            .collect()
        )
        if rc:
            spark.stop()
            return rc
        for r in rows:
            print(json.dumps(r.asDict()))
        spark.stop()
        return 0

    if args.cmd == "travel":
        from data_curator_spark.pipeline.mvcc import read_snapshot
        from data_curator_spark.session import build_session

        spark = build_session("travel")
        df, rc = _mvcc_guard(
            lambda: read_snapshot(spark, args.output, args.manifest, args.snapshot)
        )
        if rc:
            spark.stop()
            return rc
        df.write.mode("overwrite").parquet(args.to)
        print(json.dumps({"snapshot": args.snapshot, "rows": spark.read.parquet(args.to).count(), "to": args.to}))
        spark.stop()
        return 0

    if args.cmd == "diff":
        from data_curator_spark.pipeline.mvcc import snapshot_diff
        from data_curator_spark.session import build_session

        spark = build_session("diff")
        df, rc = _mvcc_guard(
            lambda: snapshot_diff(
                spark, args.output, args.manifest, args.from_snapshot, args.to_snapshot
            )
        )
        if rc:
            spark.stop()
            return rc
        df.write.mode("overwrite").parquet(args.to)
        counts = {
            r["_change_type"]: r["count"]
            for r in spark.read.parquet(args.to).groupBy("_change_type").count().collect()
        }
        print(json.dumps({
            "from": args.from_snapshot, "to_snapshot": args.to_snapshot,
            "inserts": int(counts.get("insert", 0)),
            "deletes": int(counts.get("delete", 0)), "to": args.to,
        }))
        spark.stop()
        return 0

    if args.cmd == "compact":
        from data_curator_spark.pipeline.mvcc import compact
        from data_curator_spark.session import build_session

        spark = build_session("compact")
        out, rc = _mvcc_guard(lambda: compact(spark, args.output, args.manifest))
        if rc:
            spark.stop()
            return rc
        print(json.dumps(out))
        spark.stop()
        return 0

    if args.cmd == "expire":
        from data_curator_spark.pipeline.mvcc import expire_snapshots
        from data_curator_spark.session import build_session

        spark = build_session("expire")
        out, rc = _mvcc_guard(
            lambda: expire_snapshots(
                spark, args.output, args.manifest, keep_last=args.keep_last
            )
        )
        if rc:
            spark.stop()
            return rc
        print(json.dumps(out))
        spark.stop()
        return 0

    if args.cmd == "vacuum":
        from data_curator_spark.pipeline.mvcc import vacuum
        from data_curator_spark.session import build_session

        spark = build_session("vacuum")
        removed = vacuum(spark, args.output, args.manifest, min_age_sec=args.min_age_sec)
        print(json.dumps({"removed_runs": removed}))
        spark.stop()
        return 0

    if args.cmd == "check":
        import subprocess
        from pathlib import Path

        script = Path(__file__).resolve().parents[1] / "tools" / "check_oracle.py"
        cmd = [sys.executable, str(script), args.sf_dir, *args.queries]
        return subprocess.call(cmd)

    return 2  # pragma: no cover


if __name__ == "__main__":
    raise SystemExit(main())
