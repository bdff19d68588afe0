"""Full reference-pipeline composition: MMS flat file -> typed DataFrame
(parse layer) -> parquet -> codec engine (encode) -> decode ->
bit-identical.

This is the end-to-end story the reference implements (parse -> parquet,
/root/reference/src/main.rs:92-99) with our codec layer replacing the
default parquet encoding — every type in the reference's surface (Utf8,
Float64, Timestamp(s), Boolean, Int16, Int8) passes through the codecs.
"""

from __future__ import annotations

from nem_mms_spark.jobs.encode import encode_parquet
from nem_mms_spark.jobs.verify import verify_roundtrip
from nem_mms_spark.sources.flatfile import parse_flatfiles


def _flatfile_text(n_rows: int) -> str:
    lines = [
        "C,NEMP.WORLD,DISPATCH,AEMO,PUBLIC,2021/04/01,04:43:39,1,DISPATCH,1",
        "I,DISPATCH,NEGATIVE_RESIDUE,1,SETTLEMENTDATE,NRM_DATETIME,"
        "DIRECTIONAL_INTERCONNECTORID,NRM_ACTIVATED_FLAG,"
        "CUMUL_NEGRESIDUE_AMOUNT,CUMUL_NEGRESIDUE_PREV_TI,"
        "NEGRESIDUE_CURRENT_TI,NEGRESIDUE_PD_NEXT_TI,PRICE_REVISION,"
        "PREDISPATCHSEQNO,EVENT_ACTIVATED_DI,EVENT_DEACTIVATED_DI,"
        "DI_NOTBINDING_COUNT,DI_VIOLATED_COUNT,NRM_CONSTRAINT_BLOCKED_FLAG",
    ]
    for i in range(n_rows):
        mins = (i * 5) % 60
        hrs = (i // 12) % 24
        lines.append(
            f"D,DISPATCH,NEGATIVE_RESIDUE,1,2021/04/01 {hrs:02d}:{mins:02d}:00,"
            f"2021/04/01 {hrs:02d}:{mins:02d}:00,VIC1-NSW{i % 3},{i % 2},"
            f"{i * 1.5},{i * 1.25},,{i * 0.5},REV{i % 4},P{i % 7},"
            f"2021/04/01 {hrs:02d}:{mins:02d}:00,,{i % 100},{(i * 3) % 50},0"
        )
    lines.append(f"C,END OF REPORT,{len(lines) + 1}")
    return "\n".join(lines)


def test_flatfile_through_codec_engine(spark, tmp_path):
    src = tmp_path / "negres.csv"
    src.write_text(_flatfile_text(600))

    parsed = parse_flatfiles(spark, str(src))
    df = parsed["DISPATCH_NEGATIVE_RESIDUE"]
    assert df.count() == 600
    # every reference type present: string/double/timestamp/bool/short
    kinds = {f.dataType.simpleString() for f in df.schema.fields}
    assert {"string", "double", "timestamp_ntz", "boolean", "smallint"} <= kinds

    # unique key for the verify join
    from pyspark.sql import functions as F

    keyed = df.withColumn(
        "row_key",
        F.concat_ws(
            "|", "SETTLEMENTDATE", "DIRECTIONAL_INTERCONNECTORID",
            "DI_NOTBINDING_COUNT", "DI_VIOLATED_COUNT",
        ),
    )
    # the parse layer writes parquet, which the codec engine encodes
    parsed_dir = str(tmp_path / "parsed")
    keyed.write.parquet(parsed_dir)
    out = str(tmp_path / "enc")
    metrics = encode_parquet(
        spark, parsed_dir, out, key_col="row_key", resume=False
    )
    assert metrics["rows"] == 600
    assert metrics["ratio"] < 0.7
    result = verify_roundtrip(spark, keyed, out)
    assert result["mismatched_groups"] == 0
