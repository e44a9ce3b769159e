"""Interleaved text+media documents — the target input shape.

BASELINE.json `input_hint`:
    doc_id:string,
    spans:array<struct<kind:string, text:string, media_ref:string, offset:int32>>

The driver's `documents` table is flat (doc_id, text, lang, source,
n_chars); we synthesize the interleaved span structure from it with
deterministic pure-Column expressions (no RNG, no Python) so any scale
factor reproduces bit-identically — the sandbox stand-in for the
10^12-doc Iceberg table.

Per-span geo attributes (lon/lat) are likewise derived deterministically
from (doc_id, span_idx) hashes, then quantized and curve-encoded.  The
**span-sequence invariant** — per-doc `(kind, text, media_ref, order)`
exactly preserved through every transform — is the target analog of the
reference's TID fidelity (the index must hand back exactly the right
heap rows, zcurve.c:123-140); `explode_spans` carries `span_idx` so
`reassemble` can always reconstruct the original array, and
tests/test_interleaved.py verifies byte-equality after each pipeline
stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.columns import tile_id_col, zkey2_col
from ..util import fan_out

BITS = 30  # quantization grid bits per dim; zkey < 2^60

SPAN_SCHEMA = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"


def interleaved_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id:string, spans:array<struct<...>>) from the driver table.

    Span count = 1 + (doc_id mod 8); span i is media iff
    (doc_id*31 + i*17) mod 10 < 3; text spans carry a deterministic
    substring slice of the doc text; offsets strictly increase.
    All pure Column expressions — whole-stage codegen end to end.
    """
    d = fan_out(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    doc = F.col("doc_id")
    spans = F.expr(
        """
        transform(sequence(0, cast(doc_id % 8 as int)), i -> named_struct(
          'kind', CASE WHEN (doc_id*31 + i*17) % 10 < 3 THEN 'media' ELSE 'text' END,
          'text', CASE WHEN (doc_id*31 + i*17) % 10 < 3 THEN ''
                       ELSE substring(text, cast(i*37 % greatest(n_chars, 1) as int) + 1, 48) END,
          'media_ref', CASE WHEN (doc_id*31 + i*17) % 10 < 3
                            THEN concat('m://', md5(concat(cast(doc_id as string), ':', cast(i as string))))
                            ELSE '' END,
          'offset', cast(i*64 as int)))
        """
    )
    return d.select(
        F.concat(F.lit("doc"), F.lpad(doc.cast("string"), 8, "0")).alias("doc_id"),
        spans.alias("spans"),
        doc.alias("_doc_num"),  # numeric id kept for deterministic geo hashing
    )


def explode_spans(docs: DataFrame) -> DataFrame:
    """One row per span, keeping (doc_id, span_idx) for exact reassembly."""
    return docs.select(
        "doc_id",
        "_doc_num",
        F.posexplode("spans").alias("span_idx", "span"),
    ).select(
        "doc_id",
        "_doc_num",
        "span_idx",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def with_span_geo(spans: DataFrame, bits: int = BITS) -> DataFrame:
    """Deterministic per-span lon/lat + quantized grid coords + zkey + tiles.

    Coordinates come from integer hashes of (doc_num, span_idx) mapped to
    the quantization grid directly (exact integer arithmetic — no float
    in the key path, so Spark and any oracle agree bit-for-bit).
    """
    n = 1 << bits
    h1 = (F.col("_doc_num") * 2654435761 + F.col("span_idx") * 97 + 12345) % n
    h2 = (F.col("_doc_num") * 1013904223 + F.col("span_idx") * 31 + 54321) % n
    # three projections, one analysis each (a withColumn per column
    # re-analyzes the whole plan); dict order is the column order
    out = spans.withColumns({"qx": h1.cast("long"), "qy": h2.cast("long")})
    out = out.withColumns({
        "lon": F.col("qx") / F.lit(float(n)) * 360.0 - 180.0,
        "lat": F.col("qy") / F.lit(float(n)) * 180.0 - 90.0,
        "zkey": zkey2_col("qx", "qy"),
    })
    return out.withColumns(
        {f"tile_l{level}": tile_id_col("zkey", level, bits=bits) for level in (4, 8, 12)}
    )


def reassemble(spans: DataFrame) -> DataFrame:
    """Rebuild (doc_id, spans) from exploded span rows, order-exact.

    sort_array on (span_idx, struct) restores original order regardless of
    any shuffling/joining in between — the invariant-preserving inverse of
    explode_spans.
    """
    return (
        spans.groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct("span_idx", "kind", "text", "media_ref", "offset")
                )
            ).alias("_ordered")
        )
        .select(
            "doc_id",
            F.transform(
                "_ordered",
                lambda s: F.struct(
                    s.kind.alias("kind"),
                    s.text.alias("text"),
                    s.media_ref.alias("media_ref"),
                    s.offset.alias("offset"),
                ),
            ).alias("spans"),
        )
    )
