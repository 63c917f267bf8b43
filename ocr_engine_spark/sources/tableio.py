"""Table IO seam (SURVEY.md §7.3.3).

Production semantics target an Iceberg catalog (``format("iceberg")``,
partitioned by ``bucket(N, conv_id)``); the local PySpark 4.1.2
distribution bundles no Iceberg runtime jar, so this seam reads/writes
plain parquet with identical schemas. Everything above this module is
storage-agnostic: swap ``FORMAT`` + table identifiers in one place.

Schemas are **fixed StructType, declared not inferred** — byte-equality
fixtures require stable types (SURVEY.md §1.2).
"""

from __future__ import annotations

import os
from typing import Dict, Iterable, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Input table (BASELINE.json input_hint).
TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

# Per-partition lineage/metrics (FIXTURES.md §3).
AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("turns_in", T.LongType()),
        T.StructField("turns_out", T.LongType()),
        T.StructField("blocks_kept", T.LongType()),
        T.StructField("blocks_dropped", T.LongType()),
        T.StructField("parse_failures", T.LongType()),
        T.StructField("checksum", T.LongType()),
    ]
)


def table_format() -> str:
    """The storage-format seam (SURVEY.md §7.3.3): ``iceberg`` under a
    production catalog, ``parquet`` locally. Env-injectable
    (``OCR_ENGINE_TABLE_FORMAT``) so tests prove the swap actually
    works — tests/test_tableio_format.py runs the full extract plan
    through ORC with zero code changes."""
    return os.environ.get("OCR_ENGINE_TABLE_FORMAT", "parquet")


def read_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """Scan the transcripts table. Schema is declared, so Catalyst
    prunes to exactly the columns downstream operators reference."""
    return (
        spark.read.format(table_format()).schema(TRANSCRIPTS_SCHEMA).load(path)
    )


def write_transcripts_parquet(spark: SparkSession, rows: Iterable[Dict], path: str,
                              partitions: int = 8) -> str:
    """Materialize generator rows as a transcripts table (format per
    the seam; named for the local default)."""
    df = spark.createDataFrame(list(rows), schema=TRANSCRIPTS_SCHEMA)
    df.repartition(partitions).write.mode("overwrite").format(
        table_format()
    ).save(path)
    return path


def generate_transcripts_distributed(spark: SparkSession, n_convs: int,
                                     seed: int = 42, mega: int = 0,
                                     mega_turns: int = 0, cap: int = 5000,
                                     partitions: int = 64) -> DataFrame:
    """Generate the synthetic transcript corpus *on the executors*:
    conversation generation is order-independent per conv_id (synth.py
    docstring), so ``spark.range(n_convs)`` → ``mapInPandas`` scales the
    generator with the cluster instead of the driver. Used by bench.py
    to build multi-million-turn inputs in seconds."""
    import pandas as pd  # local import: executors need it, driver may not

    from . import synth

    def gen(pdfs):
        cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        for pdf in pdfs:
            rows = []
            for ci in pdf["id"]:
                n = synth.turns_for(int(ci), seed=seed, cap=cap,
                                    mega=mega, mega_turns=mega_turns)
                rows.extend(synth.gen_conversation(seed, f"conv-{int(ci):06d}", n))
            if not rows:
                continue
            out = pd.DataFrame(rows, columns=cols)
            out["turn_idx"] = out["turn_idx"].astype("int32")
            yield out

    return spark.range(n_convs).repartition(partitions).mapInPandas(
        gen, TRANSCRIPTS_SCHEMA
    )


def transcripts_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recast the driver's ``documents`` table as single-turn
    transcripts (FIXTURES.md §4): conv_id = doc_id, turn_idx = 0,
    role = 'user', tool = null, fixed epoch ts."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
    )


def _html_escape(text: Column) -> Column:
    """``&``, ``<`` and ``>`` of a string column as HTML entities, so the
    text lands in a recast's ``<p>`` as character data."""
    return F.replace(
        F.replace(
            F.replace(text, F.lit("&"), F.lit("&amp;")),
            F.lit("<"), F.lit("&lt;"),
        ),
        F.lit(">"), F.lit("&gt;"),
    )


def transcripts_from_documents_multikind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recast ``documents`` as transcripts with ``doc_id % 4`` selecting
    a deterministic payload constructor, so one driver-gated query
    exercises all four dispatch arms (text / html / tool / pdf) of the
    extraction kernel — not just the plain-text one:

    - rem 0 → plain text, verbatim;
    - rem 1 → an HTML page: boilerplate nav/footer, an ``<h1>``, the
      escaped text in one ``<p>``, and a 2-row ``<table>`` (exercises
      skip subtrees, boilerplate containers, entity round-trip, the
      density classifier, and table-row rendering);
    - rem 2 → a tool turn whose payload wraps the text in a JSON object
      with prefix/suffix noise (exercises the first-JSON-object probe
      and the ordered flatten);
    - rem 3 → a base64 ``%PDF-TOKENS`` stream: the text's lines split
      into two *unsorted* shards of one page each, one paragraph per
      line, words carrying SPACE breaks (exercises base64 decode, shard
      sort, global page numbering, the line-assembly fold, gap handling
      and page-block rendering).

    Every constructor is a native Catalyst expression (no UDF), so the
    recast is a pure projection over the scan; the DuckDB oracle
    replays the same construction arithmetic on its side
    (catalog._FLAGSHIP_ORACLE)."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    text = F.coalesce(F.col("text"), F.lit(""))
    rem = F.col("doc_id") % 4

    # --- html (rem 1) -------------------------------------------------
    html_payload = F.concat(
        F.lit('<html><head><title>t</title></head><body>'
              '<nav><ul><li><a href="/">Home</a></li></ul></nav>'),
        F.lit("<h1>Doc "), F.col("doc_id").cast("string"), F.lit("</h1>"),
        F.lit("<p>"), _html_escape(text), F.lit("</p>"),
        F.lit("<table><tr><th>doc</th><td>"), F.col("doc_id").cast("string"),
        F.lit("</td></tr><tr><td>lang</td><td>"), F.col("lang"),
        F.lit("</td></tr></table>"),
        F.lit("<footer><p>generated for extraction tests</p></footer>"
              "</body></html>"),
    )

    # --- tool (rem 2) -------------------------------------------------
    tool_payload = F.concat(
        F.lit("tool-output "),
        F.to_json(
            F.struct(
                F.col("doc_id").alias("doc"),
                F.col("lang"),
                F.col("source").alias("src"),
                F.col("text").alias("note"),
            )
        ),
        F.lit(" [eof]"),
    )

    # --- pdf token stream (rem 3) ------------------------------------
    # The doc's whitespace tokens split into two halves → two shards of
    # one page each (emitted out of name order — the kernel must sort);
    # every 5th token carries an EOL_SURE break, the rest SPACE, so the
    # line-assembly fold produces multiple lines per page.
    toks = F.filter(F.split(text, r"[ \t\n]+"), lambda w: w != "")
    n = F.size(toks)
    h = F.floor((n + 1) / 2).cast("int")

    def words(sl):
        # 2-arg transform lambda: i is the 0-based element index
        return F.transform(
            sl,
            lambda w, i: F.struct(
                w.alias("t"),
                F.when((i + 1) % 5 == 0, F.lit(2)).otherwise(F.lit(1)).alias("br"),
            ),
        )

    def shard(name, sl):
        page = F.struct(
            F.array(
                F.struct(F.array(F.struct(words(sl).alias("words"))).alias("paragraphs"))
            ).alias("blocks")
        )
        return F.struct(F.lit(name).alias("name"), F.array(page).alias("pages"))

    token_stream = F.struct(
        # deliberately out of name order: the kernel must sort shards
        F.array(
            shard("s1", F.slice(toks, h + 1, n - h)),
            shard("s0", F.slice(toks, F.lit(1), h)),
        ).alias("shards")
    )
    # Spark's base64 emits MIME-style CRLF chunking past 76 chars;
    # strip it — the kernel decodes with validate=True.
    pdf_payload = F.regexp_replace(
        F.base64(F.encode(F.concat(F.lit("%PDF-TOKENS"), F.to_json(token_stream)),
                          "UTF-8")),
        "[\\r\\n]", "",
    )

    return docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.when(rem == 2, F.lit("tool"))
        .when((rem == 1) | (rem == 3), F.lit("assistant"))
        .otherwise(F.lit("user"))
        .alias("role"),
        F.when(rem == 1, html_payload)
        .when(rem == 2, tool_payload)
        .when(rem == 3, pdf_payload)
        .otherwise(F.col("text"))
        .alias("text"),
        F.when(rem == 2, F.lit("wrap_json")).cast("string").alias("tool"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
    )


def transcripts_from_documents_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recast ``documents`` as transcripts whose payloads are
    *deliberately malformed*, so the driver gate hash-verifies the
    kernels' failure/fallback paths — the reference's retry-ladder
    semantics (/root/reference/ocr_any.py:199-213; our deterministic
    analogue kernel/dispatch.py:102-115) — not just the happy paths:

    - rem 0 → a truncated/corrupt base64 PDF payload: the magic prefix
      followed by ``@@`` (not in the base64 alphabet) + the doc text.
      ``detect_kind`` still says pdf (magic prefix), decode fails →
      ``parse_failed = 1`` and the raw-text paragraph fallback;
    - rem 1 → a tool turn with braces but unparseable JSON
      (``{oops ...}``): the first-JSON-object probe fails with braces
      present → ``parse_failed = 1`` and the raw-text fallback;
    - rem 2 → HTML with an *unterminated* ``<script>``: the tolerant
      parser consumes the open script element's interior as opaque
      rawtext to EOF (stdlib-parser parity), so ``parse_failed = 0``
      by design and the script source never leaks into the blocks.

    Like the multikind recast, every constructor is a native Catalyst
    expression; catalog's oracle replays the fallback arithmetic."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    text = F.coalesce(F.col("text"), F.lit(""))
    rem = F.col("doc_id") % 3

    pdf_bad = F.concat(F.lit("JVBERi1UT0tF@@"), text)
    tool_bad = F.concat(F.lit("tool-output {oops "), text, F.lit(" }"))
    html_bad = F.concat(
        F.lit("<h1>Doc "), F.col("doc_id").cast("string"), F.lit("</h1>"),
        F.lit("<p>"), _html_escape(text), F.lit("</p>"),
        F.lit('<script>var tag = "<p>never extracted</p>";'),
    )

    return docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.when(rem == 1, F.lit("tool")).otherwise(F.lit("assistant")).alias("role"),
        F.when(rem == 0, pdf_bad)
        .when(rem == 1, tool_bad)
        .otherwise(html_bad)
        .alias("text"),
        F.when(rem == 1, F.lit("wrap_json")).cast("string").alias("tool"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
    )


def read_audit(spark: SparkSession, path: str) -> Optional[DataFrame]:
    try:
        return (
            spark.read.format(table_format()).schema(AUDIT_SCHEMA).load(path)
        )
    except Exception:
        return None


def append_audit(df: DataFrame, path: str) -> None:
    df.write.mode("append").format(table_format()).save(path)


def write_bucketed_table(df: DataFrame, name: str, buckets: int,
                         key: str = "doc_id") -> None:
    """Write ``df`` as a BUCKETED table: rows hash-partitioned on
    ``key`` into ``buckets`` files per partition at WRITE time, with
    the bucketing recorded in the catalog. Equi-joins and aggregations
    on ``key`` between tables bucketed the same way then run with
    ZERO exchange — the co-located-join move for 100 TB tables that
    are joined repeatedly (documents ⋈ embeddings by id: pay one
    shuffle at ingest, never again). Iceberg's production equivalent
    is the ``bucket(N, key)`` partition transform + storage-partitioned
    joins; Spark's bucketBy requires saveAsTable (the catalog carries
    the bucketing metadata the planner needs to elide the exchange).
    Rows are also sorted within buckets so merge joins skip their sort.
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    # a FRESH session's in-memory catalog doesn't know about a prior
    # run's managed-table directory, and saveAsTable refuses to adopt
    # it (LOCATION_ALREADY_EXISTS) — clear the orphaned location too
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    loc = wh[len("file:"):] if wh.startswith("file:") else wh
    if loc:
        import shutil

        shutil.rmtree(os.path.join(loc, name.lower()), ignore_errors=True)
    (
        df.write.mode("overwrite")
        .format(table_format())
        .bucketBy(buckets, key)
        .sortBy(key)
        .saveAsTable(name)
    )
