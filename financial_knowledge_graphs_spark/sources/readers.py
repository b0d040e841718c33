"""Source/sink operators (SURVEY.md §2.1) — every format the reference reads
or writes, re-expressed as schema-explicit Spark readers.

The reference loads articles from CSV/XLSX/YAML into a per-row dict
(reference src/utils/file_utils.py:250-317), stores one JSON file per
extraction (:189-218), scans result directories (:135-164), and reads OpenAI
batch JSONL (reference src/utils/batch_utils.py:328-338). Here each becomes
a DataFrame with a fixed schema; per-doc files become rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType, StringType, StructField, StructType,
)

from .. import schemas
from ..session import local_frame

# reference CSV shape (src/utils/data_processing.py:13-16)
ARTICLES_CSV = StructType(
    [
        StructField("newsID", StringType(), False),
        StructField("transmissionDate", StringType()),
        StructField("headline", StringType()),
        StructField("story", StringType()),
        StructField("isinTags", StringType()),
        StructField("tickerTags", StringType()),
        StructField("isEnglish", BooleanType()),
    ]
)


def read_articles_csv(spark: SparkSession, path: str) -> DataFrame:
    """CSV scan with explicit schema (SURVEY §2.1 row 1; replaces
    pd.read_csv at reference file_utils.py:267). Schema-on-write: malformed
    rows land in _corrupt_record instead of crashing."""
    # COPY the shared schema — StructType.add mutates self, so a second
    # call would stack duplicate _corrupt_record fields onto the module
    # constant (and every other consumer of ARTICLES_CSV)
    schema = StructType(
        list(ARTICLES_CSV.fields) + [StructField("_corrupt_record", StringType())]
    )
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )


def read_articles_yaml(spark: SparkSession, path: str) -> DataFrame:
    """YAML scan (SURVEY §2.1 row 3; replaces yaml.safe_load {id: text} at
    reference src/utils/file_utils.py:237-248, :312-313). YAML is a
    driver-side config format, not a data plane — load then parallelize."""
    import yaml

    with open(path) as f:
        data = yaml.safe_load(f) or {}
    rows = [(str(k), str(v)) for k, v in data.items()]
    return local_frame(spark, rows, "newsID string, story string")


def _read_xlsx_minimal(path: str) -> list[dict[str, str]]:
    """Dependency-free xlsx reader (zip + SpreadsheetML XML, stdlib only):
    first worksheet, first row = header, shared/inline strings + numbers.
    Covers the config-sized sheets the reference reads with pd.read_excel
    (reference src/utils/file_utils.py:268-269); not a general Excel engine
    (no formulas, dates-as-serials, styles)."""
    import re
    import xml.etree.ElementTree as ET
    import zipfile

    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    with zipfile.ZipFile(path) as z:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            root = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in root.findall("m:si", ns):
                shared.append("".join(t.text or "" for t in si.iter(
                    "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}t")))
        # numeric sheet ordering (lexicographic sorts sheet10 before sheet2 —
        # review finding r2-9); a workbook whose tabs were reordered in Excel
        # still needs workbook.xml+rels for the true first tab, which is out
        # of scope for the config-sized sheets this reader targets
        sheets = sorted(
            (n for n in z.namelist()
             if re.fullmatch(r"xl/worksheets/sheet\d+\.xml", n)),
            key=lambda n: int(re.search(r"(\d+)\.xml$", n).group(1)),
        )
        if not sheets:
            raise ValueError(f"{path}: no worksheet XML found")
        root = ET.fromstring(z.read(sheets[0]))

    def col_idx(ref: str) -> int:
        letters = "".join(ch for ch in ref if ch.isalpha())
        i = 0
        for ch in letters:
            i = i * 26 + (ord(ch.upper()) - ord("A") + 1)
        return i - 1

    rows: list[list[str]] = []
    for row in root.iter("{http://schemas.openxmlformats.org/spreadsheetml/2006/main}row"):
        cells: dict[int, str] = {}
        for j, c in enumerate(row.findall("m:c", ns)):
            idx = col_idx(c.get("r", "")) if c.get("r") else j
            t = c.get("t", "n")
            v = c.find("m:v", ns)
            if t == "s" and v is not None and v.text is not None:
                cells[idx] = shared[int(v.text)]
            elif t == "inlineStr":
                is_el = c.find("m:is", ns)
                cells[idx] = "".join(
                    tt.text or "" for tt in (is_el.iter(
                        "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}t")
                        if is_el is not None else [])
                )
            else:
                cells[idx] = v.text if v is not None and v.text is not None else ""
        width = max(cells) + 1 if cells else 0
        rows.append([cells.get(i, "") for i in range(width)])
    if not rows:
        return []
    header = rows[0]
    return [
        {header[i]: (r[i] if i < len(r) else "") for i in range(len(header))}
        for r in rows[1:]
    ]


def read_articles_excel(spark: SparkSession, path: str) -> DataFrame:
    """Excel scan (SURVEY §2.1 row 2; replaces pd.read_excel at reference
    src/utils/file_utils.py:268-269). No native Spark reader exists — the
    reference reads config-sized sheets, so this is a driver-side load:
    pandas' engine when installed, else the vendored stdlib xlsx reader
    (round 1 raised NotImplementedError without openpyxl; VERDICT missing #6)."""
    try:
        import pandas as pd  # inside the try: missing PANDAS must also
        # fall back to the vendored reader, not just missing openpyxl

        # blank cells are NaN; fillna BEFORE astype or they become the
        # literal string 'nan' (the vendored fallback yields '')
        pdf = pd.read_excel(path).fillna("").astype(str)
        cols = [str(c) for c in pdf.columns]
        rows = list(pdf.itertuples(index=False, name=None))
    except ImportError:  # pandas/openpyxl/xlrd not installed in this env
        recs = _read_xlsx_minimal(path)
        cols = list(recs[0].keys()) if recs else []
        rows = [tuple(str(r.get(c, "")) for c in cols) for r in recs]
    return local_frame(spark, rows,
                       ", ".join(f"`{c}` string" for c in cols or ["newsID"]))


def articles_to_documents(articles: DataFrame) -> DataFrame:
    """Reference CSV shape → the engine's interleaved-span documents table
    (one text span per article; the degenerate single-span case of the
    BASELINE.json input shape)."""
    span = F.struct(
        F.lit("text").alias("kind"),
        F.col("story").alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    return articles.select(
        F.col("newsID").alias("doc_id"),
        F.array(span).alias("spans"),
        F.col("transmissionDate").alias("transmission_date"),
        F.col("headline"),
        F.col("isinTags").alias("isin_tags"),
        F.col("tickerTags").alias("ticker_tags"),
        F.col("isEnglish").alias("is_english"),
    )


def documents_to_articles(documents: DataFrame) -> DataFrame:
    """Inverse of ``articles_to_documents``: interleaved-span documents →
    the reference's flat CSV article shape (story = ordered text spans).
    Lossy only for media spans (the CSV shape has nowhere to put them) —
    round-trips exactly for text-only documents."""
    from ..operators.prep import story_expr

    return documents.select(
        F.col("doc_id").alias("newsID"),
        F.col("transmission_date").alias("transmissionDate"),
        F.col("headline"),
        story_expr("spans").alias("story"),
        F.col("isin_tags").alias("isinTags"),
        F.col("ticker_tags").alias("tickerTags"),
        F.col("is_english").alias("isEnglish"),
    )


def read_extraction_dir(spark: SparkSession, path: str) -> DataFrame:
    """Directory-of-JSON scan (SURVEY §2.1 row 6): one extraction document
    per file, doc_id recovered from the filename stem — replaces
    load_evaluation_files (reference file_utils.py:135-164, key = stem,
    'summary.json' excluded)."""
    raw = (
        spark.read.schema(schemas.EXTRACTION)
        .option("multiLine", True)
        .json(path)
        .withColumn("_file", F.input_file_name())
    )
    doc_id = F.regexp_extract(F.col("_file"), r"([^/]+)\.json$", 1)
    return (
        raw.withColumn("doc_id", F.regexp_replace(doc_id, r"^result_", ""))
        .filter(F.col("doc_id") != "summary")
        .select("doc_id", "entities", "relationships")
    )


def write_extraction_dir(extracted: DataFrame, path: str) -> None:
    """JSON sink: extraction docs as JSON rows (per-doc files become rows —
    SURVEY §2.1 row 5; replaces save_json per article)."""
    extracted.select(
        "doc_id", F.col("extraction.entities").alias("entities"),
        F.col("extraction.relationships").alias("relationships"),
    ).write.mode("overwrite").json(path)


# ---------------------------------------------------------------------------
# OpenAI-batch-protocol shapes (kept for reference-format compatibility even
# though extraction is in-engine; SURVEY §2.1 rows 7-8)
# ---------------------------------------------------------------------------

def build_batch_requests(docs_with_story: DataFrame, prompt_prefix: str,
                         prompt_suffix: str = "", model: str = "gpt-4o-mini") -> DataFrame:
    """Prompt templating + JSONL request build (SURVEY §2.4 row 22, §2.1
    row 7): one request object per line, custom_id = doc_id — the shape the
    reference writes at openai_batch_processor.py:92-117. Pure expressions:
    concat for the template, to_json(struct(...)) for the line."""
    prompt = F.concat(F.lit(prompt_prefix), F.col("story"), F.lit(prompt_suffix))
    body = F.struct(
        F.lit(model).alias("model"),
        F.array(
            F.struct(F.lit("user").alias("role"), prompt.alias("content"))
        ).alias("messages"),
    )
    return docs_with_story.select(
        F.to_json(
            F.struct(
                F.col("doc_id").alias("custom_id"),
                F.lit("POST").alias("method"),
                F.lit("/v1/chat/completions").alias("url"),
                body.alias("body"),
            )
        ).alias("value")
    )


_BATCH_RESULT_SCHEMA = (
    "custom_id string, response struct<body: struct<choices: array<struct<"
    "message: struct<content: string>>>>>"
)


def read_batch_results_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """JSONL batch-results scan + nested pluck (SURVEY §2.1 row 8, §2.4 row
    25): response.body.choices[0].message.content with missing-field guard
    (reference batch_utils.py:328-341)."""
    raw = spark.read.schema(_BATCH_RESULT_SCHEMA).json(path)
    # F.get (not [0]): ANSI mode throws on out-of-bounds, empty choices must
    # degrade to NULL → '' (reference skips those rows)
    content = F.get(F.col("response.body.choices"), 0)["message"]["content"]
    return raw.select(
        F.col("custom_id").alias("doc_id"),
        F.coalesce(content, F.lit("")).alias("content"),
    )


FLAT_TRIPLE = StructType(
    [
        StructField("subject", StringType()),
        StructField("relation", StringType()),
        StructField("object", StringType()),
    ]
)


def flat_triples_expr(content_col) -> F.Column:
    """Parse the FLAT triple payload of prompts v1/v2 + Stanford OpenIE —
    ``[{"subject", "relation", "object"}]`` (reference
    configs/prompts.yaml:20,48-55, src/utils/ground_truth.py:57-69) —
    degrading to an empty array, fences stripped like the nested parser."""
    from pyspark.sql.types import ArrayType

    c = F.col(content_col) if isinstance(content_col, str) else content_col
    fenced = F.regexp_extract(c, r"```(?:json)?\s*([\s\S]*?)```", 1)
    payload = F.when(F.length(fenced) > 0, fenced).otherwise(c)
    parsed = F.from_json(payload, ArrayType(FLAT_TRIPLE))
    return F.coalesce(parsed, F.array().cast(ArrayType(FLAT_TRIPLE)))


def flat_to_extraction_expr(content_col) -> F.Column:
    """Lift a flat-triple payload into the engine's nested EXTRACTION shape:
    entities = distinct subject/object names in first-appearance order
    (ids E1..), relationships reference those ids; attributes null (the flat
    prompts carry none). Pure Catalyst — array_distinct preserves first
    appearance, array_position recovers the id."""
    # drop triples with a null/empty endpoint FIRST: they have no entity to
    # reference, and keeping them would emit dangling 'E0'/null source ids
    # (review finding r2-8)
    arr = F.filter(
        flat_triples_expr(content_col),
        lambda t: t["subject"].isNotNull() & (t["subject"] != "")
        & t["object"].isNotNull() & (t["object"] != ""),
    )
    names = F.array_distinct(
        F.flatten(F.transform(arr, lambda t: F.array(t["subject"], t["object"])))
    )
    ent_id = lambda name: F.concat(
        F.lit("E"), F.array_position(names, name).cast("string")
    )
    entities = F.transform(
        names,
        lambda x, i: F.struct(
            F.concat(F.lit("E"), (i + 1).cast("string")).alias("id"),
            F.lit("Company").alias("type"),
            x.alias("name"),
            F.lit(None).cast(schemas.ENTITY_ATTRS).alias("attributes"),
        ),
    )
    rels = F.transform(
        arr,
        lambda t, i: F.struct(
            F.concat(F.lit("R"), (i + 1).cast("string")).alias("id"),
            t["relation"].alias("type"),
            ent_id(t["subject"]).alias("source"),
            ent_id(t["object"]).alias("target"),
            F.lit(None).cast(schemas.REL_ATTRS).alias("attributes"),
        ),
    )
    return F.struct(entities.alias("entities"), rels.alias("relationships"))


def tolerant_extraction_expr(content_col) -> F.Column:
    """Tolerant JSON extraction (SURVEY §2.4 row 24): strip ```json fences
    if present, parse against the explicit schema, degrade to empty arrays —
    Catalyst-native replacement for reference text_processing.py:12-33."""
    c = F.col(content_col) if isinstance(content_col, str) else content_col
    fenced = F.regexp_extract(c, r"```(?:json)?\s*([\s\S]*?)```", 1)
    payload = F.when(F.length(fenced) > 0, fenced).otherwise(c)
    parsed = F.from_json(payload, schemas.EXTRACTION)
    from pyspark.sql.types import ArrayType

    return F.struct(
        F.coalesce(parsed["entities"], F.array().cast(ArrayType(schemas.ENTITY))).alias("entities"),
        F.coalesce(parsed["relationships"], F.array().cast(ArrayType(schemas.RELATIONSHIP))).alias("relationships"),
    )
