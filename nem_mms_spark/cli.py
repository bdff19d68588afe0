"""Command-line entry points (spark-submit friendly):

  python -m nem_mms_spark.cli generate --rows N --out DIR
  python -m nem_mms_spark.cli encode   --input PARQUET --out DIR [opts]
  python -m nem_mms_spark.cli decode   --encoded DIR --out PARQUET [--columns a,b]
  python -m nem_mms_spark.cli verify   --source PARQUET --encoded DIR
  python -m nem_mms_spark.cli info     [--encoded DIR]

Reference ancestor: the clap dispatch in /root/reference/src/main.rs:91-154
(parse/fetch/info/manage); fetch is out of scope (our source is a table),
manage-init is subsumed by encode's directory layout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _spark(args):
    from nem_mms_spark.session import get_spark

    return get_spark(master=args.master)


def cmd_generate(args) -> int:
    from nem_mms_spark.datagen import web_pages_df

    spark = _spark(args)
    web_pages_df(spark, args.rows).write.mode("overwrite").parquet(args.out)
    print(json.dumps({"written": args.out, "rows": args.rows}))
    return 0


def cmd_encode(args) -> int:
    from nem_mms_spark.jobs.encode import encode_parquet

    spark = _spark(args)
    metrics = encode_parquet(
        spark,
        args.input,
        args.out,
        key_col=args.key,
        resume=not args.no_resume,
        partitioning=(
            "salted" if args.partitioning == "salted_direct"
            else "source_direct"
        ),
    )
    print(json.dumps(metrics))
    return 0


def cmd_decode(args) -> int:
    from nem_mms_spark.jobs.decode import decode_blocks

    spark = _spark(args)
    cols = args.columns.split(",") if args.columns else None
    df = decode_blocks(spark, args.encoded, columns=cols)
    df.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"written": args.out}))
    return 0


def cmd_verify(args) -> int:
    from nem_mms_spark.jobs.verify import verify_roundtrip

    spark = _spark(args)
    source = spark.read.parquet(args.source)
    result = verify_roundtrip(spark, source, args.encoded)
    print(json.dumps(result))
    return 0


def cmd_parse(args) -> int:
    """MMS flat-file parse -> one parquet dataset per package (the
    reference's flagship `parse` subcommand, main.rs:92-99)."""
    from nem_mms_spark.sources.flatfile import flatfiles_to_parquet

    spark = _spark(args)
    written = flatfiles_to_parquet(spark, args.input, args.out)
    print(json.dumps(written))
    return 0


def cmd_stream(args) -> int:
    """Drain currently-available files from a landing dir into encoded
    blocks (incremental encode; availableNow trigger)."""
    from nem_mms_spark.streaming import incremental_encode

    spark = _spark(args)
    incremental_encode(spark, args.input, args.out)
    print(json.dumps({"drained": args.input, "out": args.out}))
    return 0


def _print_package_schemas() -> None:
    """Reference-parity pretty-print of every package schema (the `info`
    display, /root/reference/src/packages/mod.rs:132-194).  Fetch
    operations are marked unsupported by design: this engine's source is
    a table / flat files, not nemweb HTTP (SURVEY.md section 7)."""
    from nem_mms_spark.sources.schemas import PACKAGE_SCHEMAS

    for name, schema in sorted(PACKAGE_SCHEMAS.items()):
        print(f"Package name: {name}")
        print("Supported operations:")
        print("    ✓ Parse (flat file -> typed table)")
        print("    ✗ Fetch Current   (out of scope: source is a table)")
        print("    ✗ Fetch Archive   (out of scope: source is a table)")
        print("    ✗ Fetch Historic  (out of scope: source is a table)")
        print("Schema:")
        rows = [
            (f.name, f.dataType.simpleString(),
             "✓" if f.nullable else "✗")
            for f in schema.fields
        ]
        w0 = max(len("Name"), *(len(r[0]) for r in rows))
        w1 = max(len("Data type"), *(len(r[1]) for r in rows))
        print(f"    {'Name':<{w0}} {'Data type':<{w1}} Nullable")
        print(f"    {'-' * w0} {'-' * w1} --------")
        for r in rows:
            print(f"    {r[0]:<{w0}} {r[1]:<{w1}} {r[2]}")
        print()


def cmd_info(args) -> int:
    from nem_mms_spark.codecs import registry

    if args.schemas:
        _print_package_schemas()
        return 0
    out = {
        "codecs": {
            "bytes": registry.candidate_codecs("bytes"),
            "int": registry.candidate_codecs("<i8"),
            "float": registry.candidate_codecs("<f8"),
        },
    }
    if args.encoded:
        from nem_mms_spark.jobs.decode import block_files, read_block_meta

        # per-column payload totals over the committed parts, read on
        # the driver, beside what their block files take on disk
        files = block_files(args.encoded)
        out["file_bytes"] = sum(os.path.getsize(p) for _pid, p in files)
        meta = read_block_meta(
            files,
            ["column", "logical_type", "value_count", "raw_bytes",
             "encoded_bytes"],
        )
        out["columns"] = (
            meta.group_by(["column", "logical_type"], use_threads=False)
            .aggregate(
                [(c, "sum")
                 for c in ("value_count", "raw_bytes", "encoded_bytes")]
            )
            .rename_columns(
                ["column", "logical_type", "n_values", "raw_bytes",
                 "encoded_bytes"]
            )
            .to_pylist()
        )
    print(json.dumps(out, indent=2))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="nem_mms_spark")
    p.add_argument("--master", default=None, help="spark master override")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate", help="write a synthetic web_pages table")
    g.add_argument("--rows", type=int, required=True)
    g.add_argument("--out", required=True)
    g.set_defaults(fn=cmd_generate)

    e = sub.add_parser("encode", help="encode a parquet table")
    e.add_argument("--input", required=True)
    e.add_argument("--out", required=True)
    e.add_argument("--key", default="url")
    e.add_argument("--no-resume", action="store_true")
    e.add_argument(
        "--partitioning",
        default="source_direct",
        choices=("source_direct", "salted_direct"),
        help="source_direct = parquet files in LPT bins, scanned with "
        "pyarrow inside the task and encoded in place (default); "
        "salted_direct = source-direct INCLUDING skew handling (hot "
        "hosts spill task-side to right-sized salt buckets encoded in a "
        "second pass — zero JVM bytes)",
    )
    e.set_defaults(fn=cmd_encode)

    d = sub.add_parser("decode", help="decode blocks back to parquet")
    d.add_argument("--encoded", required=True)
    d.add_argument("--out", required=True)
    d.add_argument("--columns", default=None)
    d.set_defaults(fn=cmd_decode)

    v = sub.add_parser("verify", help="bit-identical round-trip check")
    v.add_argument("--source", required=True)
    v.add_argument("--encoded", required=True)
    v.set_defaults(fn=cmd_verify)

    pa = sub.add_parser("parse", help="parse MMS flat files to parquet")
    pa.add_argument("--input", required=True)
    pa.add_argument("--out", required=True)
    pa.set_defaults(fn=cmd_parse)

    st = sub.add_parser("stream", help="incremental encode of a landing dir")
    st.add_argument("--input", required=True)
    st.add_argument("--out", required=True)
    st.set_defaults(fn=cmd_stream)

    i = sub.add_parser("info", help="print codec registry / encoded stats")
    i.add_argument("--encoded", default=None)
    i.add_argument(
        "--schemas", action="store_true",
        help="pretty-print every package schema (reference info parity)",
    )
    i.set_defaults(fn=cmd_info)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
