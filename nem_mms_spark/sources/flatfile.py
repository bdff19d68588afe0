"""AEMO MMS flat-file CSV dialect, Spark-first (reference parity layer).

The reference parses files of C/I/D-tagged rows into typed Arrow batches
(/root/reference/src/flatfile.rs): C = file-level comments (EMMS/BUT
headers, EOR row-count trailer), I = in-file table headers (schema +
column names), D = data rows.  One file carries MANY tables; schema binding
is by column NAME from the registry, extra columns are dropped, missing
headers are fatal (flatfile.rs:109-132).

Spark restatement (no per-row Python after line extraction):

  lines        sc.binaryFiles -> container recursion (zip-in-zip) ->
               exact per-file line numbers  [S1/S2/S3]
  classify     first CSV field 'C'/'I'/'D' via split + when  [P1/P2]
  segment      running count of I-rows over a per-file window — the
               sessionization idiom for the reference's stateful
               segmentation scan (flatfile.rs:83-103)  [P6]
  bind+cast    join D-rows to their segment's I-row, look up each schema
               field's index in the header array, cast with the trial
               ladder (timestamp formats per flatfile.rs:619-640)  [P7/P8]
  validate     nulls in non-nullable fields are fatal (flatfile.rs:163);
               unknown (report_type, report_subtype) pairs are skipped
               with a warning (mod.rs:201-207); EOR count-of-records is
               asserted against the actual per-file record count
  route        one parquet dataset per package  [S7/S8]

Dialect note: RFC-4180 quoting is fully supported — a quoted field may
contain commas, doubled quotes unescape to one quote, and a quoted field
may contain embedded newlines (record extraction is quote-aware: a
physical line with unbalanced quotes continues the record, matching the
reference's csv-crate defaults, main.rs:161-165).  CRLF line endings
normalize to LF inside quoted fields.
"""

from __future__ import annotations

import io
import os
import zipfile

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from nem_mms_spark.sources.schemas import PACKAGE_OF_REPORT, PACKAGE_SCHEMAS

LINES_SCHEMA = "file string, line_no long, value string"


def read_flatfile_lines(spark: SparkSession, path: str) -> DataFrame:
    """Recursive scan of csv/zip files -> (file, line_no, value) rows.

    binaryFiles distributes one file per task; zip members (including
    nested zips, /root/reference/src/zip.rs:13-40) are expanded in-task.
    Line numbers are exact per logical file — the ordering the
    segmentation window requires.
    """

    def expand(item):
        fname, data = item
        yield from _expand_blob(fname, bytes(data))

    # directory recursion (reference S3, /root/reference/src/main.rs:158-190):
    # binaryFiles does not descend into nested dirs, so enumerate local
    # directories explicitly (csv/zip only, unknown extensions skipped)
    src = path
    if "://" not in path and os.path.isdir(path):
        files = []
        for root, _dirs, names in os.walk(path):
            for nm in names:
                if nm.lower().endswith((".csv", ".zip")):
                    files.append(os.path.join(root, nm))
        if not files:
            return spark.createDataFrame([], schema=LINES_SCHEMA)
        src = ",".join(sorted(files))
    rdd = spark.sparkContext.binaryFiles(src).flatMap(expand)
    return spark.createDataFrame(rdd, schema=LINES_SCHEMA)


def _expand_blob(name: str, blob: bytes):
    lower = name.lower()
    if lower.endswith(".zip"):
        with zipfile.ZipFile(io.BytesIO(blob)) as zf:
            for member in zf.namelist():
                mlower = member.lower()
                if mlower.endswith((".csv", ".zip")):
                    yield from _expand_blob(
                        f"{name}!{member}", zf.read(member)
                    )
    elif lower.endswith(".csv"):
        text = blob.decode("utf-8", errors="replace")
        for i, rec in enumerate(_split_records(text)):
            if rec:
                yield (name, i, rec)
    # other extensions: skipped (main.rs:187)


_MAX_CONTINUED_BYTES = 4 << 20


def _split_records(text: str, max_continued_bytes: int = _MAX_CONTINUED_BYTES):
    """Quote-aware record extraction: a newline terminates a record only
    when all quotes so far are balanced (RFC-4180 — a quoted field may
    span physical lines).  Doubled quotes contribute 2 to the count, so
    escaped quotes keep the parity correct.

    Continuation is BOUNDED BY BUFFERED BYTES (default 4 MiB): a stray
    unpaired quote on a malformed line would otherwise swallow the
    entire remainder of the file into one giant record, turning one bad
    line into a whole-file parse failure; at the bound the buffered
    lines are emitted individually so the error stays localized to the
    offending record.  The bound is on bytes, not line count — RFC-4180
    permits arbitrarily many embedded newlines, and a legitimate
    long multi-line field must not silently become parse errors (the
    previous 64-LINE bound did exactly that; round-4 ADVICE).  Trips
    are counted in ``_split_records.bound_trips`` and logged, so
    legitimate-data truncation is observable rather than silent.
    Yielded indices are RECORD numbers, not physical line numbers (a
    multi-line quoted record advances the index by 1) — downstream
    diagnostics label them accordingly."""
    buf: list[str] | None = None
    buf_bytes = 0
    for part in text.split("\n"):
        if part.endswith("\r"):
            part = part[:-1]
        if buf is None:
            if part.count('"') % 2 == 0:
                yield part
            else:
                buf = [part]
                buf_bytes = len(part)
        else:
            buf.append(part)
            buf_bytes += len(part) + 1
            if part.count('"') % 2 == 1:
                yield "\n".join(buf)
                buf = None
            elif buf_bytes > max_continued_bytes:
                # localized failure: flush the run-away record line by
                # line (the opener will fail to parse; later lines parse
                # on their own merits)
                _split_records.bound_trips += 1
                import logging

                logging.getLogger(__name__).warning(
                    "quoted record exceeded %d buffered bytes after %d "
                    "lines; force-splitting (unbalanced quote upstream, "
                    "or raise max_continued_bytes for legitimately "
                    "huge fields)",
                    max_continued_bytes,
                    len(buf),
                )
                yield from buf
                buf = None
    if buf is not None:
        # unbalanced quote at EOF: emit lines verbatim (parse errors
        # surface downstream on the offending line only)
        yield from buf


_split_records.bound_trips = 0


# split on commas OUTSIDE quoted fields: a comma is a delimiter iff the
# quotes after it balance to the end of line (RFC-4180, no embedded
# newlines).  Java regex lookahead, evaluated JVM-side.
_CSV_SPLIT_RE = ',(?=(?:[^"]*"[^"]*")*[^"]*$)'


def _unquote(x):
    """Strip one layer of surrounding quotes and unescape doubled quotes.
    (?s): a quoted field may contain embedded newlines."""
    return F.when(
        x.rlike('(?s)^".*"$'),
        F.regexp_replace(x.substr(F.lit(2), F.length(x) - 2), '""', '"'),
    ).otherwise(x)


def csv_fields(value) -> "F.Column":
    """RFC-4180 field array for one line (quote-aware split + unquote)."""
    return F.transform(F.split(value, _CSV_SPLIT_RE), _unquote)


def underline_field(line: str, idx: int) -> str:
    """Caret rendering for a bad CSV field (the reference's underlined
    error display, /root/reference/src/error.rs:119-144): the raw line
    followed by a '^^^' run under field `idx`."""
    import re

    spans, pos = [], 0
    for part in re.split(_CSV_SPLIT_RE, line):
        spans.append((pos, pos + len(part)))
        pos += len(part) + 1
    if idx < len(spans):
        start, end = spans[idx]
        underline = " " * start + "^" * max(end - start, 1)
    else:
        underline = " " * len(line) + "^^^"
    return f"\n\n\t{line}\n\t{underline}\n"


def classify_lines(lines: DataFrame, check: bool = True) -> DataFrame:
    """P1/P2: record classification + segmentation ids.  check=False
    defers the unknown-record validation to the caller (parse_flatfiles
    runs it against the cached plan instead of rescanning)."""
    df = lines.withColumn("fields", csv_fields(F.col("value")))
    c0 = F.col("fields")[0]
    df = df.withColumn(
        "rtype",
        F.when(c0.isin("C", "I", "D"), c0).otherwise(F.lit(None)),
    )
    if check:
        _check_classified(df)
    w = W.partitionBy("file").orderBy("line_no").rowsBetween(
        W.unboundedPreceding, 0
    )
    return (
        df.withColumn(
            "seg", F.sum(F.when(F.col("rtype") == "I", 1).otherwise(0)).over(w)
        )
        .withColumn(
            "last_c",
            F.max(
                F.when(F.col("rtype") == "C", F.col("line_no"))
            ).over(w),
        )
        .withColumn(
            "last_i",
            F.max(
                F.when(F.col("rtype") == "I", F.col("line_no"))
            ).over(w),
        )
    )


def _check_classified(df: DataFrame) -> None:
    bad = df.filter(F.col("rtype").isNull()).limit(1).collect()
    if bad:
        raise ValueError(
            f"unrecognized payload at {bad[0]['file']}:{bad[0]['line_no']}:"
            f"{underline_field(bad[0]['value'], 0)}"
            'Expected one of ["C", "I", "D"]'
        )


def segment_info(classified: DataFrame) -> DataFrame:
    """One row per (file, seg): the I-record's report identity + headers."""
    return classified.filter(F.col("rtype") == "I").select(
        "file",
        "seg",
        F.col("fields")[1].alias("report_type"),
        F.col("fields")[2].alias("report_subtype"),
        F.col("fields")[3].cast("int").alias("report_version"),
        F.slice(
            F.col("fields"), 5, F.greatest(F.size("fields") - 4, F.lit(0))
        ).alias("headers"),
    )


_BUT_REPORT_IDS = ("BLIND_UPDATE_SUBMISSION", "BLIND_UPDATE_RESPONSE")


def comment_records(classified: DataFrame) -> DataFrame:
    """EMMS / BUT / EOR comment rows, fully parsed (P2/P3).

    Routing mirrors the reference (flatfile.rs:333-345): field[1] ==
    'END OF REPORT' -> EOR; else field[2] in the blind-update ids -> BUT;
    else EMMS.  Field layout per CommentRecordEMMS (flatfile.rs:388-428:
    system/report_id/from/to/date/time + payload_info[7..9]) and
    CommentRecordBUT (flatfile.rs:434-473: + market[10], payload_id[11],
    payload_response_id[12]).  EOR carries the row-count checksum
    (flatfile.rs:475-488), enforced by parse_flatfiles."""
    c = classified.filter(F.col("rtype") == "C")
    f = F.col("fields")
    is_eor = f[1] == "END OF REPORT"
    is_but = f[2].isin(*_BUT_REPORT_IDS)
    kind = F.when(is_eor, "EOR").when(is_but, "BUT").otherwise("EMMS")
    not_eor = ~is_eor
    return c.select(
        "file",
        "line_no",
        kind.alias("kind"),
        F.when(is_eor, f[2].cast("long")).alias("count_of_records"),
        F.when(not_eor, f[1]).alias("system"),
        F.when(not_eor, f[2]).alias("report_id"),
        F.when(not_eor, f[3]).alias("from_participant"),
        F.when(not_eor, f[4]).alias("to_participant"),
        F.when(
            not_eor,
            F.try_to_timestamp(
                F.concat_ws(" ", f[5], f[6]), F.lit("yyyy/MM/dd HH:mm:ss")
            ),
        ).alias("publish_dt"),
        F.when(not_eor & ~is_but, F.slice(f, 8, 3)).alias("payload_info"),
        F.when(is_but, f[10]).alias("market"),
        F.when(is_but, f[11]).alias("payload_id"),
        F.when(is_but, f[12]).alias("payload_response_id"),
    )


_TS_LADDER_FORMATS = ("yyyy/MM/dd HH:mm:ss", "yyyy/MM/dd HH:mm", "yyyy/MM/dd")


def _cast_cell(raw, spark_type: str):
    """The trial-parse/coercion ladder (P5/P8).  Empty string -> NULL."""
    # quotes were already stripped at split time (csv_fields)
    v = F.nullif(F.trim(raw), F.lit(""))
    if spark_type == "string":
        return v
    if spark_type == "double":
        return v.cast("double")
    if spark_type in ("short", "byte", "int", "long", "smallint", "tinyint", "bigint"):
        return v.cast(spark_type)
    if spark_type == "boolean":
        # integer 1 -> true, other ints -> false (flatfile.rs:565-571)
        return F.when(v.isNull(), F.lit(None).cast("boolean")).otherwise(
            v.cast("long") == 1
        )
    if spark_type.startswith("timestamp"):
        ts = None
        for fmt in _TS_LADDER_FORMATS:
            t = F.try_to_timestamp(v, F.lit(fmt))
            ts = t if ts is None else F.coalesce(ts, t)
        return ts.cast("timestamp_ntz")
    raise ValueError(f"unsupported cast target {spark_type}")


def parse_flatfiles(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """Full pipeline: path -> {package_name: typed DataFrame} (the
    reference's `parse` entry point, main.rs:92-99)."""
    lines = read_flatfile_lines(spark, path)
    # cache once: all validations + per-package binds reuse this plan
    classified = classify_lines(lines, check=False).cache()

    # ONE validation aggregation (one Spark job, which also populates the
    # cache) produces everything the driver must check or know up front:
    # first unclassifiable row per file, the EOR row-count checksum
    # (flatfile.rs:475-488), and the distinct segment identities + header
    # sets for package discovery (MissingColumnHeader, flatfile.rs:120).
    is_eor = (F.col("rtype") == "C") & (F.col("fields")[1] == "END OF REPORT")
    seg_ident = F.when(
        F.col("rtype") == "I",
        F.struct(
            F.col("fields")[1].alias("report_type"),
            F.col("fields")[2].alias("report_subtype"),
            F.slice(
                F.col("fields"), 5, F.greatest(F.size("fields") - 4, F.lit(0))
            ).alias("headers"),
        ),
    )
    summary = (
        classified.groupBy("file")
        .agg(
            F.count("*").alias("n_records"),
            F.min(
                F.when(
                    F.col("rtype").isNull(), F.struct("line_no", "value")
                )
            ).alias("bad"),
            F.min(F.when(is_eor, F.col("fields")[2].cast("long"))).alias(
                "eor_count"
            ),
            F.collect_set(seg_ident).alias("segs"),
        )
        .collect()
    )
    for r in summary:
        if r["bad"] is not None:
            raise ValueError(
                f"unrecognized payload at {r['file']}:{r['bad']['line_no']}:"
                f"{underline_field(r['bad']['value'], 0)}"
                'Expected one of ["C", "I", "D"]'
            )
    for r in summary:
        if r["eor_count"] is not None and r["eor_count"] != r["n_records"]:
            raise ValueError(
                f"EOR count mismatch in {r['file']}: trailer says "
                f"{r['eor_count']} records, file has {r['n_records']}"
            )
    header_sets: dict[tuple, list] = {}
    for r in summary:
        for s in r["segs"]:
            header_sets.setdefault(
                (s["report_type"], s["report_subtype"]), []
            ).append(list(s["headers"]))

    info = segment_info(classified)

    data = classified.filter(
        (F.col("rtype") == "D")
        & F.col("last_i").isNotNull()
        & (
            F.col("last_c").isNull()
            | (F.col("last_i") > F.col("last_c"))
        )
    ).select("file", "seg", "line_no", "fields", F.col("value"))

    joined = data.join(F.broadcast(info), ["file", "seg"])

    out: dict[str, DataFrame] = {}
    for key in sorted(header_sets):
        pkg = PACKAGE_OF_REPORT.get(key)
        if pkg is None:
            # skipped with a warning, not fatal (mod.rs:201-207)
            print(f"WARNING: unrecognized package {key}, skipping")
            continue
        schema = PACKAGE_SCHEMAS[pkg]
        rows = joined.filter(
            (F.col("report_type") == key[0])
            & (F.col("report_subtype") == key[1])
        )
        # header presence check per segment variant, from the validation
        # summary — no extra job (MissingColumnHeader, flatfile.rs:120)
        for headers in header_sets[key]:
            have = set(headers)
            missing = [f.name for f in schema.fields if f.name not in have]
            if missing:
                raise ValueError(
                    f"{pkg}: missing column headers {missing} in {key}"
                )
        cols = []
        for field in schema.fields:
            # bind by NAME via the segment's header array; data cells
            # start at CSV index 4 (flatfile.rs:110,118-125)
            idx = F.array_position(F.col("headers"), field.name)
            raw = F.get(F.col("fields"), (idx + 3).cast("int"))
            cols.append(
                _cast_cell(raw, field.dataType.simpleString()).alias(field.name)
            )
        typed = rows.select(*cols)
        # per-field nullability, as the reference enforces it
        # (flatfile.rs:163)
        req = [f.name for f in schema.fields if not f.nullable]
        if req:
            viol = typed.filter(
                F.greatest(*[F.col(c).isNull().cast("int") for c in req])
                == 1
            ).count()
            if viol:
                raise ValueError(
                    f"{pkg}: {viol} rows violate non-null fields {req}"
                )
        out[pkg] = typed
    return out


def flatfiles_to_parquet(
    spark: SparkSession, in_path: str, out_dir: str
) -> dict[str, str]:
    """S7/S8 output routing: one parquet dataset per package."""
    written = {}
    for pkg, df in parse_flatfiles(spark, in_path).items():
        dest = os.path.join(out_dir, f"{pkg}.parquet")
        df.write.mode("overwrite").parquet(dest)
        written[pkg] = dest
    return written
