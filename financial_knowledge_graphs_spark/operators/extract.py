"""Vectorized mention + relation extraction (SURVEY.md §2.4 row 23).

Replaces the reference's per-article LLM call loop
(reference src/llm/model_handler.py:75-127, src/runners/run_llm_task.py:111-146)
with a deterministic, gazetteer + pattern extractor running as a
``pandas_udf`` (SCALAR_ITER) over Arrow batches of story text. The output is
the same per-document extraction JSON the reference's prompts mandate
(reference configs/prompts.yaml:159-192): ``{"entities": [...],
"relationships": [...]}`` with ids C1../R1.., the 4 ontology predicates and
typed attributes.

Scale design:
- The gazetteer (alias dictionary) is the broadcast small side: shipped once
  per executor via ``SparkContext.broadcast``, indexed by first token so a
  document scan is O(#tokens), not O(#aliases).
- The UDF is SCALAR_ITER so the matcher index is built once per task, then
  streamed over Arrow record batches.
- No per-row Python outside this single stage; parsing back to columns is
  Catalyst ``from_json`` with an explicit schema.

Recall scope: the connector patterns below are anchored immediately after a
mention and take the first hit — sufficient for the reference-parity gate on
the fixture grammar, deliberately NOT a general relation extractor.
Real-world recall comes from adding patterns (or swapping this UDF for a
model call); the Spark plumbing — broadcast gazetteer, Arrow batching,
downstream link/canonicalize/materialize — is unchanged by that swap.
"""

from __future__ import annotations

import json
import re
import uuid
from typing import Any, Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from .. import schemas

_WORD = re.compile(r"\S+")

# connector patterns: matched immediately after a mention's end via
# pattern.match(text, pos) — position-anchored, so the multi-KB story is
# never sliced per mention; each must be followed by a second mention, then
# the (position-anchored) attribute tail.
_ACQUIRED = re.compile(r" acquired ")
_MERGED = re.compile(r" merged with ")
_EQUITY = re.compile(r" holds a (\d+(?:\.\d+)?)% equity stake in ")
_DEBT = re.compile(r" is a debt holder of ")

_MONEY_TAIL = re.compile(
    r" for \$(\d+(?:\.\d+)?) (million|billion)(?: on (\d{4}-\d{2}(?:-\d{2})?))?\."
)
_MERGE_TAIL = re.compile(r"(?: on (\d{4}-\d{2}(?:-\d{2})?))?\.")
_DEBT_TAIL = re.compile(r", holding notes worth \$(\d+(?:\.\d+)?) (million|billion)\.")

_UNIT = {"million": 1e6, "billion": 1e9}

# per-worker-process gazetteer memo, keyed by broadcast id (see extract_udf).
# Small BOUNDED cache (not single-entry): two concurrent jobs with different
# alias dicts interleaving in one reused worker would otherwise evict each
# other every task and rebuild the O(alias-dict) index per task — the thrash
# the cache exists to avoid (review finding r2-10).
_GAZ_CACHE: dict = {}
_GAZ_CACHE_MAX = 4


class Gazetteer:
    """First-token-indexed exact-surface matcher over the alias dictionary.

    ``index[first_token] -> [(alias, record), ...]`` sorted longest-first so
    the scan greedily takes the longest alias at each position.
    """

    __slots__ = ("index",)

    def __init__(self, alias_rows: list[tuple[str, str, str, str, str]]):
        idx: dict[str, list[tuple[str, dict[str, str]]]] = {}
        for alias, canonical, ticker, industry, country in alias_rows:
            if not alias:
                continue
            rec = {
                "companyName": canonical,
                "ticker": ticker,
                "industry": industry,
                "country": country,
            }
            idx.setdefault(alias.split(" ", 1)[0], []).append((alias, rec))
        for k in idx:
            idx[k].sort(key=lambda p: -len(p[0]))
        self.index = idx

    def find_mentions(self, text: str) -> list[tuple[int, int, str, dict[str, str]]]:
        """Longest-match, non-overlapping scan → [(start, end, surface, rec)]."""
        out: list[tuple[int, int, str, dict[str, str]]] = []
        pos = 0
        n = len(text)
        index = self.index
        for m in _WORD.finditer(text):
            start = m.start()
            if start < pos:
                continue
            cands = index.get(m.group(0)) or index.get(m.group(0).rstrip(".,"))
            if not cands:
                continue
            for alias, rec in cands:
                end = start + len(alias)
                if end <= n and text.startswith(alias, start):
                    # boundary: next char must not be a word char
                    if end == n or not (text[end].isalnum() or text[end] == "_"):
                        out.append((start, end, alias, rec))
                        pos = end
                        break
        return out


def extract_document(text: str, gaz: Gazetteer) -> dict[str, Any]:
    """One document → extraction dict (entities C1.., relationships R1..)."""
    mentions = gaz.find_mentions(text)
    # entity per distinct company (canonical name), first surface wins
    ent_ids: dict[str, str] = {}
    entities: list[dict[str, Any]] = []
    start_of: dict[int, int] = {}   # mention start -> mention list idx
    for i, (s, e, surface, rec) in enumerate(mentions):
        start_of[s] = i
        key = rec["companyName"]
        if key not in ent_ids:
            ent_ids[key] = f"C{len(ent_ids) + 1}"
            entities.append(
                {
                    "id": ent_ids[key],
                    "type": "Company",
                    "name": surface,
                    "attributes": dict(rec),
                }
            )

    relationships: list[dict[str, Any]] = []

    def add_rel(rtype: str, src_rec: dict, tgt_rec: dict,
                value: float | None, pct: float | None, date: str | None) -> None:
        relationships.append(
            {
                "id": f"R{len(relationships) + 1}",
                "type": rtype,
                "source": ent_ids[src_rec["companyName"]],
                "target": ent_ids[tgt_rec["companyName"]],
                "attributes": {
                    "valueAmount": value,
                    "percentage": pct,
                    "transactionDate": date,
                },
            }
        )

    for i, (s1, e1, _surf1, rec1) in enumerate(mentions):
        for conn, kind in ((_ACQUIRED, "acquired"), (_MERGED, "mergedWith"),
                           (_EQUITY, "hasEquityStakeIn"), (_DEBT, "hasDebtHolder")):
            cm = conn.match(text, e1)
            if not cm:
                continue
            j = start_of.get(cm.end())
            if j is None:
                break
            s2, e2, _surf2, rec2 = mentions[j]
            if kind == "acquired":
                tm = _MONEY_TAIL.match(text, e2)
                if tm:
                    add_rel("acquired", rec1, rec2,
                            float(tm.group(1)) * _UNIT[tm.group(2)], None, tm.group(3))
            elif kind == "mergedWith":
                tm = _MERGE_TAIL.match(text, e2)
                if not tm and _surf2.endswith("."):
                    # the longest alias ("Acme Inc.") took the period that
                    # ends the sentence: surface and date-less tail share it
                    tm = _MERGE_TAIL.match(text, e2 - 1)
                if tm:
                    add_rel("mergedWith", rec1, rec2, None, None, tm.group(1))
            elif kind == "hasEquityStakeIn":
                add_rel("hasEquityStakeIn", rec1, rec2, None, float(cm.group(1)), None)
            else:  # "B is a debt holder of A" => (A, hasDebtHolder, B)
                tm = _DEBT_TAIL.match(text, e2)
                if tm:
                    add_rel("hasDebtHolder", rec2, rec1,
                            float(tm.group(1)) * _UNIT[tm.group(2)], None, None)
            break
    return {"entities": entities, "relationships": relationships}


def make_extract_udf(spark: SparkSession, alias_dict: DataFrame):
    """Build the SCALAR_ITER pandas UDF with the gazetteer broadcast.

    ``alias_dict`` is the small dimension table (FIXTURES.md §2); collecting
    and broadcasting it is the same decision a broadcast-hash join makes.
    """
    # Arrow transfer + itertuples, not collect(): a web-scale alias dict is
    # O(10^5-10^6) rows and Row-object materialization alone costs seconds
    # of driver time before the job can start.
    pdf = alias_dict.select(
        "alias", "canonical_name", "ticker", "industry", "country"
    ).toPandas()
    rows = list(pdf.itertuples(index=False, name=None))
    bc = spark.sparkContext.broadcast(rows)
    bid = uuid.uuid4().hex  # cache key fixed at closure creation (one per udf)

    @F.pandas_udf(StringType())
    def extract_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # memoized per worker PROCESS (not per task): _GAZ_CACHE is a
        # module-level name, so cloudpickle references it through the module
        # import — one dict per worker; with worker reuse the index for a
        # 10^5-row alias dict is built once per core, not once per task.
        # Bounded cache: a long-lived worker serving many pipeline runs
        # (streaming restarts) must not accumulate one O(alias-dict) index
        # per make_extract_udf call (ADVICE r1) — FIFO-evict beyond
        # _GAZ_CACHE_MAX entries (dicts preserve insertion order).
        gaz = _GAZ_CACHE.get(bid)
        if gaz is None:
            while len(_GAZ_CACHE) >= _GAZ_CACHE_MAX:
                _GAZ_CACHE.pop(next(iter(_GAZ_CACHE)))
            gaz = _GAZ_CACHE[bid] = Gazetteer(bc.value)
        for stories in batches:
            yield pd.Series(
                [
                    json.dumps(extract_document(t or "", gaz), separators=(",", ":"))
                    for t in stories
                ]
            )

    return extract_udf


def run_extraction(docs_with_story: DataFrame, extract_udf) -> DataFrame:
    """story → parsed nested extraction struct.

    ``from_json`` with the explicit schema replaces the reference's tolerant
    fence parser (reference src/utils/text_processing.py:12-33); a NULL
    struct (unparseable payload) degrades to empty arrays, reproducing the
    degrade-don't-crash semantics (reference src/utils/batch_utils.py:358-359).
    """
    parsed = docs_with_story.withColumn("_raw", extract_udf(F.col("story"))).withColumn(
        "_p", F.from_json(F.col("_raw"), schemas.EXTRACTION)
    )
    # PERMISSIVE from_json yields null FIELDS on garbage; coalesce per field
    # so downstream always sees arrays (degrade-don't-crash,
    # reference src/utils/batch_utils.py:358-359)
    from pyspark.sql.types import ArrayType

    parsed = parsed.withColumn(
        "extraction",
        F.struct(
            F.coalesce(F.col("_p.entities"), F.array().cast(ArrayType(schemas.ENTITY))).alias("entities"),
            F.coalesce(F.col("_p.relationships"), F.array().cast(ArrayType(schemas.RELATIONSHIP))).alias("relationships"),
        ),
    )
    return parsed.drop("_raw", "_p")


def mentions_df(extracted: DataFrame) -> DataFrame:
    """Explode entities → one row per mention (SURVEY.md §1.2)."""
    e = extracted.select("doc_id", F.explode_outer("extraction.entities").alias("ent"))
    return e.select(
        "doc_id",
        F.col("ent.id").alias("local_id"),
        F.col("ent.type").alias("type"),
        F.col("ent.name").alias("name"),
        F.col("ent.attributes.companyName").alias("companyName"),
        F.col("ent.attributes.ticker").alias("ticker"),
        F.col("ent.attributes.industry").alias("industry"),
        F.col("ent.attributes.country").alias("country"),
    ).filter(F.col("local_id").isNotNull())


def raw_triples_df(extracted: DataFrame) -> DataFrame:
    """Explode relationships → raw (doc-local) triples."""
    r = extracted.select(
        "doc_id", F.explode_outer("extraction.relationships").alias("rel")
    )
    return r.select(
        "doc_id",
        F.col("rel.id").alias("local_id"),
        F.col("rel.type").alias("pred"),
        F.col("rel.source").alias("src_local"),
        F.col("rel.target").alias("tgt_local"),
        F.col("rel.attributes.valueAmount").alias("valueAmount"),
        F.col("rel.attributes.percentage").alias("percentage"),
        F.col("rel.attributes.transactionDate").alias("transactionDate"),
    ).filter(F.col("local_id").isNotNull())
