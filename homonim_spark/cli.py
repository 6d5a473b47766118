"""CLI — the engine's counterpart of the reference's ``homonim`` commands
(``/root/reference/homonim/cli.py``): ``fuse``, ``compare``, ``stats``.

Inputs are parquet tables (documents + tiles per the input_hint schema)
instead of GTiff paths; outputs are parquet tables plus JSON stats on
stdout (the reference's ``--output`` JSON dump, ``cli.py:601-604``).

Run locally::

    python -m homonim_spark.cli fuse --documents d.parquet --tiles t.parquet \
        --out /tmp/corrected --model gain-blk-offset --kernel 5 5

or on a cluster via ``spark-submit --py-files homonim_spark.zip``.
"""

from __future__ import annotations

import argparse
import json
import sys


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--documents", required=True, help="documents parquet path")
    p.add_argument("--tiles", required=True, help="tile-payload parquet path")
    p.add_argument("--master", default=None)
    p.add_argument("--proc-crs", default="auto", choices=["ref", "src", "auto"])


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="homonim-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    f = sub.add_parser("fuse", help="correct source tiles to reference reflectance")
    _add_common(f)
    f.add_argument("--out", required=True, help="output directory (parquet)")
    f.add_argument("--model", default="gain-blk-offset",
                   choices=["gain", "gain-blk-offset", "gain-offset"])
    f.add_argument("--kernel", nargs=2, type=int, default=[5, 5],
                   metavar=("H", "W"))
    f.add_argument("--find-r2", action="store_true")
    f.add_argument("--mask-partial", action="store_true")
    f.add_argument("--dtype", default="float32")
    f.add_argument("--nodata", type=float, default=None)
    f.add_argument("--chunk", type=int, default=4)
    f.add_argument("--param-interp", default="bilinear",
                   choices=["bilinear", "nearest", "cubic", "lanczos"],
                   help="proc→src parameter upsampling (the reference's "
                        "cubic-spline analogue vs the fast/exact path)")
    f.add_argument("--sigma-clip", type=float, default=None,
                   help="mask pixels whose residual exceeds this many block "
                        "σ and refit (north_star extension; off by default)")
    f.add_argument("--sigma-clip-iters", type=int, default=2)
    f.add_argument("--export-gtiff", default=None, metavar="DIR",
                   help="additionally write ONE corrected GeoTIFF per image "
                        "to DIR (the reference's *_FUSE_*.tif artifact); "
                        "DIR must be shared storage on a real cluster")
    f.add_argument("--export-epsg", type=int, default=None,
                   help="EPSG code stamped into exported GeoTIFF GeoKeys")
    f.add_argument("--build-ovw", action=argparse.BooleanOptionalAction,
                   default=True,
                   help="build internal overview IFDs (power-of-2 average "
                        "pyramid) in exported GeoTIFFs — ON by default like "
                        "the reference (cli.py:345; --no-build-ovw disables)")
    f.add_argument("--conf", default=None, metavar="YAML",
                   help="yaml config; fills parameters not given on the "
                        "command line (reference cli.py:88-117 semantics)")

    c = sub.add_parser("compare", help="src vs ref similarity statistics")
    _add_common(c)
    c.add_argument("--output", default=None, help="write stats JSON here too")
    c.add_argument("--report", default="json", choices=["json", "table"],
                   help="stdout format (table = the reference's text tables)")

    s = sub.add_parser("stats", help="parameter-image statistics")
    s.add_argument("--params", required=True, help="fused/param parquet path")
    s.add_argument("--model", default="gain-blk-offset")
    s.add_argument("--master", default=None)
    s.add_argument("--output", default=None)
    s.add_argument("--report", default="json", choices=["json", "table"])
    return ap


def _emit_stats(stats: list, args) -> None:
    """stdout in the chosen format; ``--output`` always gets JSON (the
    reference's --output JSON dump, ``cli.py:601-604``)."""
    out_json = json.dumps(stats, default=str)
    if getattr(args, "report", "json") == "table":
        from homonim_spark.report import format_table
        print(format_table(stats))
    else:
        print(out_json)
    if args.output:
        with open(args.output, "w") as fh:
            fh.write(out_json)


def main(argv=None) -> int:
    if argv is None:
        argv = sys.argv[1:]
    args = build_parser().parse_args(argv)
    if getattr(args, "conf", None):
        from homonim_spark.report import merge_cli_config
        merge_cli_config(args, argv, args.conf,
                         parser_dests=[d for d in vars(args) if d != "conf"])
    from homonim_spark.session import get_spark
    spark = get_spark(app_name=f"homonim-spark-{args.cmd}", master=args.master)
    spark.sparkContext.setLogLevel("WARN")

    if args.cmd == "fuse":
        from homonim_spark.operators.fuse import fuse, infer_fuse_config
        from homonim_spark.operators.sink import run_manifest, write_corrected
        from homonim_spark.kernel.models import KernelModelParams
        docs = spark.read.parquet(args.documents)
        tiles = spark.read.parquet(args.tiles)
        # 'auto' resolves to the lower-res grid inside infer_fuse_config
        # (the reference rule, raster_pair.py:193-224); the manifest's
        # FUSE_PROC_CRS needs the resolved grid, so it is resolved ONCE here
        # and shared with fuse() — one metadata-scale collect, not two
        from homonim_spark.enums import Model, ProcCrs
        params = KernelModelParams(
            model=Model(args.model), kernel_shape=tuple(args.kernel),
            find_r2=args.find_r2, mask_partial=args.mask_partial,
            sigma_clip=args.sigma_clip, sigma_clip_iters=args.sigma_clip_iters,
            param_interp=args.param_interp)
        cfg = infer_fuse_config(tiles, params, proc_crs=ProcCrs(args.proc_crs),
                                chunk=args.chunk)
        fused = fuse(docs, tiles, cfg=cfg)
        fused.cache()
        write_corrected(fused, f"{args.out}/corrected", dtype=args.dtype,
                        nodata=args.nodata)
        fused.drop("corr").write.mode("overwrite").parquet(f"{args.out}/params")
        if args.export_gtiff:
            from homonim_spark.operators.sink import export_corrected_gtiff
            export_corrected_gtiff(
                fused, args.export_gtiff, dtype=args.dtype, nodata=args.nodata,
                epsg=args.export_epsg, build_ovw=args.build_ovw).collect()
        n_bands = fused.select("band").distinct().count()
        manifest = run_manifest(args.model, tuple(args.kernel),
                                cfg.proc_crs.value, n_bands,
                                args.find_r2, {"src": args.tiles, "ref": args.tiles})
        with open(f"{args.out}/MANIFEST.json", "w") as fh:
            json.dump({k: list(v) if isinstance(v, tuple) else v
                       for k, v in manifest.items()}, fh, indent=2)
        print(json.dumps({"corrected_tiles": fused.count(), "out": args.out}))

    elif args.cmd == "compare":
        from homonim_spark.operators.compare import compare_with_mean
        tiles = spark.read.parquet(args.tiles)
        stats = compare_with_mean(tiles, args.proc_crs).toPandas().to_dict(orient="records")
        _emit_stats(stats, args)

    elif args.cmd == "stats":
        from homonim_spark.operators.stats import param_stats
        fused = spark.read.parquet(args.params)
        stats = param_stats(fused, model=args.model).toPandas().to_dict(orient="records")
        _emit_stats(stats, args)

    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
