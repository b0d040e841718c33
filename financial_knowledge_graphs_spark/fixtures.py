"""Deterministic synthetic corpus generator (FIXTURES.md).

Generates the interleaved-span ``documents`` table mandated by
BASELINE.json's input_hint, together with the alias dictionary and the
by-construction ground truth (``gt_extractions`` nested docs + flat
``gt_triples``). The pattern follows the reference's own synthetic
ground-truth recipe (reference configs/prompts.yaml:560-634: draw a graph,
then render an article that embeds it) made fully deterministic.

Scale note: generation is distributed — ``spark.range(n_docs)`` →
``mapInPandas`` with a pure per-doc function seeded by ``(seed, doc_idx)``,
so a 10^8-doc corpus generates executor-side with no driver materialization.
The company universe (small) is computed driver-side and broadcast via
closure capture.
"""

from __future__ import annotations

import hashlib
import math
import random
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    StringType,
    StructField,
    StructType,
)

from . import schemas
from .session import local_frame

# ---------------------------------------------------------------------------
# Company universe (deterministic)
# ---------------------------------------------------------------------------
_ADJ = [
    "Global", "Quantum", "Apex", "Sterling", "Vertex", "Pinnacle", "Atlas",
    "Orion", "Summit", "Crescent", "Halcyon", "Nimbus", "Aurora", "Titan",
    "Zephyr", "Beacon", "Cobalt", "Juniper", "Lattice", "Ivory",
]
_NOUN = [
    "Tech", "Capital", "Industries", "Energy", "Systems", "Analytics",
    "Logistics", "Materials", "Pharma", "Networks", "Dynamics", "Ventures",
    "Foods", "Motors", "Robotics", "Semiconductors", "Media", "Financial",
    "Aerospace", "Biosciences",
]
_SUFFIXES = ["Inc.", "Corp", "Ltd", "LLC", "Group", "Holdings", "PLC"]
_INDUSTRIES = [
    "Technology", "Banking", "Energy", "Healthcare", "Manufacturing",
    "Telecommunications", "Retail", "Transportation",
]
_COUNTRIES = ["USA", "UK", "Germany", "Japan", "France", "Canada", "Spain", "India"]

HUB_NAME = "Meridian Global Bank Corp"

# Neutral filler sentences (no company names) to push docs past the
# 250-word quality threshold (reference src/utils/data_processing.py:18,52).
_FILLER = [
    "Market participants weighed the implications for the broader sector.",
    "Trading volumes remained elevated throughout the session.",
    "Regulators have signaled closer scrutiny of large transactions this year.",
    "Analysts noted that macroeconomic conditions remain uncertain.",
    "The announcement followed weeks of speculation in financial media.",
    "Industry observers described the move as broadly expected.",
    "Bond markets showed little immediate reaction to the news.",
    "The sector has seen a wave of consolidation over the past decade.",
    "Executives declined to comment on further strategic plans.",
    "The transaction remains subject to customary closing conditions.",
    "Shareholders are expected to vote on the matter next quarter.",
    "Credit rating agencies said they would review the development.",
    "The companies expect the integration to take several quarters.",
    "Supply chain pressures have eased somewhat in recent months.",
    "The board unanimously approved the strategic direction.",
    "Proceeds are expected to fund general corporate purposes.",
    "Advisors to the deal included several major investment banks.",
    "The filing with regulators is expected within thirty days.",
    "Employee retention packages were part of the agreement.",
    "Currency fluctuations weighed on reported results this quarter.",
    "The outlook for the second half of the year remains cautious.",
    "Institutional investors have increased positions in the sector.",
    "The agreement includes standard breakup fee provisions.",
    "Management reiterated full-year guidance during the call.",
    "Commodity prices have been volatile in recent weeks.",
]

_NON_ENGLISH = [
    "El banco central anunció nuevas medidas para estabilizar los mercados financieros.",
    "Die Aufsichtsbehörde prüft derzeit mehrere große Transaktionen im Bankensektor.",
    "Les marchés européens ont réagi prudemment aux annonces de la banque centrale.",
    "La empresa presentó resultados trimestrales por encima de las expectativas.",
    "Der Vorstand hat die strategische Neuausrichtung einstimmig beschlossen.",
    "Les investisseurs institutionnels restent prudents face à la volatilité actuelle.",
]


def make_companies(n: int, seed: int = 42) -> list[dict[str, Any]]:
    """Deterministic company roster; index 0 is the skewed hub (a major bank)."""
    rng = random.Random(seed)
    companies: list[dict[str, Any]] = []
    seen: set[str] = set()
    i = 0
    while len(companies) < n:
        adj = _ADJ[i % len(_ADJ)]
        noun = _NOUN[(i // len(_ADJ)) % len(_NOUN)]
        k = i // (len(_ADJ) * len(_NOUN))
        # beyond the 400 two-word combos, suffix BOTH words with the series
        # number ("Global2 Tech2") so normalized names neither collide nor
        # contain each other (reference containment gate would merge
        # "Global Tech" with "Global Tech Two" — see neo4j_handler.py:123)
        base = f"{adj}{k + 1} {noun}{k + 1}" if k > 0 else f"{adj} {noun}"
        if base in seen:
            i += 1
            continue
        seen.add(base)
        suffix = _SUFFIXES[rng.randrange(len(_SUFFIXES))]
        canonical = f"{base} {suffix}"
        ticker = "".join(w[0] for w in base.split()).upper() + str(len(companies))
        companies.append(
            {
                "idx": len(companies),
                "base": base,
                "canonical": canonical,
                "suffix": suffix,
                "ticker": ticker,
                "industry": _INDUSTRIES[rng.randrange(len(_INDUSTRIES))],
                "country": _COUNTRIES[rng.randrange(len(_COUNTRIES))],
            }
        )
        i += 1
    # hub entity: a major bank present in ~30% of docs (skew fixture)
    companies[0] = {
        "idx": 0,
        "base": "Meridian Global Bank",
        "canonical": HUB_NAME,
        "suffix": "Corp",
        "ticker": "MGB0",
        "industry": "Banking",
        "country": "USA",
    }
    return companies


def aliases_for(comp: dict[str, Any], typos: bool = False) -> list[str]:
    """3-5 deterministic surface forms with the reference's normalization
    variance (legal suffixes / punctuation / casing —
    reference src/db/neo4j_handler.py:54-66).

    ``typos=True`` (opt-in; the committed oracle fixture depends on the
    default) adds a space-dropped typo surface ("VertexTech") for every
    third company. Its normalized form is a single fused token, so the
    token-blocked containment/Jaccard path can NEVER link it (no shared
    token, no containment) — only the char-n-gram embedding path can
    (cosine ≈ 0.8-0.9 vs same-company surfaces, ≤ 0.62 cross-company).
    This is the fixture that makes ``embedding_link=True`` load-bearing
    end-to-end (north star: alias-dictionary + embedding-similarity
    linking)."""
    base, suffix = comp["base"], comp["suffix"]
    out = [comp["canonical"], base, base.upper()]
    if suffix in ("Inc.", "Corp", "Ltd", "LLC"):
        out.append(f"{base}, {suffix}")
    if comp["idx"] % 3 == 0:
        out.append(f"{base} {suffix.rstrip('.')}")
    if typos and comp["idx"] % 3 == 1:
        out.append(base.replace(" ", ""))
    # dedupe, keep order
    seen: set[str] = set()
    uniq = []
    for a in out:
        if a not in seen:
            seen.add(a)
            uniq.append(a)
    return uniq


# ---------------------------------------------------------------------------
# Per-doc generation (pure function of (seed, doc_idx, companies))
# ---------------------------------------------------------------------------

def _money_text(amount_musd: float) -> tuple[str, float]:
    """Render an amount in millions as article text + raw-dollar value."""
    if amount_musd >= 1000:
        b = round(amount_musd / 1000.0, 1)
        return (f"${b:g} billion", b * 1e9)
    return (f"${amount_musd:g} million", amount_musd * 1e6)


def _doc_class(doc_idx: int) -> str:
    r = doc_idx % 100
    if r in (0, 1, 2):
        return "dup"
    if r in (3, 4, 5, 6, 7):
        return "short"
    if r in (8, 9, 10, 11, 12):
        return "non_english"
    return "good"


def _gen_good_doc(doc_idx: int, companies: list[dict[str, Any]], seed: int,
                  short: bool = False, zipf: bool = False,
                  typos: bool = False) -> dict[str, Any]:
    rng = random.Random(f"{seed}:{doc_idx}:doc")
    n_comp = len(companies)
    # entity draw: hub with p=0.30; 10 mid-frequency; long tail. The tail is
    # UNIFORM by default (the committed oracle fixture depends on this —
    # never change the default); zipf=True makes it log-uniform (density
    # ~1/rank, Zipf s≈1), the realistic regime where an ingest batch
    # mentions hubs + a small popularity-tail subset instead of almost
    # every entity — the regime incremental canonicalization targets.
    chosen: list[int] = []
    if rng.random() < 0.30 and n_comp > 1:
        chosen.append(0)
    n_target = rng.randint(2, 4)
    # clamp to the reachable universe (index 0 is only drawable pre-loop):
    # with n_companies <= 4 an unclamped target would spin forever. No rng
    # call, so the committed fixture's draw sequence is untouched.
    n_target = min(n_target, max(1, n_comp - 1 + (1 if 0 in chosen else 0)))
    while len(chosen) < n_target:
        if rng.random() < 0.25 and n_comp > 11:
            c = rng.randint(1, 10)  # mid-frequency block
        elif zipf and n_comp > 2:
            c = min(n_comp - 1,
                    int(math.exp(rng.random() * math.log(n_comp - 1))))
        else:
            c = rng.randrange(1, n_comp) if n_comp > 1 else 0
        if c not in chosen:
            chosen.append(c)

    ents = [companies[c] for c in chosen]
    surface: dict[int, str] = {}
    for c in ents:
        al = aliases_for(c, typos)  # build once, not twice per entity
        surface[c["idx"]] = al[rng.randrange(len(al))]

    sentences: list[str] = []
    # ~10% of docs carry zero relationships (FIXTURES.md §3)
    n_rels = 0 if rng.random() < 0.10 else rng.randint(1, min(3, len(ents) - 1))
    rels: list[dict[str, Any]] = []
    used_pairs: set[tuple[int, int]] = set()
    for _ in range(n_rels):
        for _try in range(10):
            a, b = rng.sample(range(len(ents)), 2)
            if (a, b) not in used_pairs and (b, a) not in used_pairs:
                used_pairs.add((a, b))
                break
        else:
            continue
        s, o = ents[a], ents[b]
        pred = schemas.PREDICATES[rng.randrange(4)]
        value_amount = percentage = None
        tdate = None
        if rng.random() < 0.8:
            y, m = rng.randint(2018, 2025), rng.randint(1, 12)
            if rng.random() < 0.2:
                tdate = f"{y:04d}-{m:02d}"          # partial date (prompts.yaml:247)
            else:
                tdate = f"{y:04d}-{m:02d}-{rng.randint(1, 28):02d}"
        ss, os_ = surface[s["idx"]], surface[o["idx"]]
        if pred == "acquired":
            money, value_amount = _money_text(rng.randint(50, 5000) * 1.0)
            when = f" on {tdate}" if tdate else ""
            sentences.append(f"{ss} acquired {os_} for {money}{when}.")
        elif pred == "mergedWith":
            when = f" on {tdate}" if tdate else ""
            sentences.append(f"{ss} merged with {os_}{when}.")
        elif pred == "hasEquityStakeIn":
            percentage = rng.randint(10, 190) / 2.0
            sentences.append(f"{ss} holds a {percentage:g}% equity stake in {os_}.")
            tdate = None
        else:  # hasDebtHolder: subj HAS debt holder obj => "obj is a debt holder of subj"
            money, value_amount = _money_text(rng.randint(20, 900) * 1.0)
            sentences.append(
                f"{os_} is a debt holder of {ss}, holding notes worth {money}."
            )
            tdate = None
        rels.append(
            {
                "s": s["idx"], "o": o["idx"], "pred": pred,
                "valueAmount": value_amount, "percentage": percentage,
                "transactionDate": tdate,
            }
        )

    # mention-only sentences so every chosen entity appears in text
    mentioned = {r["s"] for r in rels} | {r["o"] for r in rels}
    for c in ents:
        if c["idx"] not in mentioned:
            sentences.append(
                rng.choice(
                    [
                        f"Shares of {surface[c['idx']]} rose in early trading.",
                        f"{surface[c['idx']]} reported quarterly results above expectations.",
                        f"{surface[c['idx']]} announced a leadership transition.",
                    ]
                )
            )

    # filler to cross (or deliberately stay under) the 250-word threshold
    # 38 fillers x >=7 words guarantees good docs clear the 250-word floor;
    # short docs stay well under it.
    n_filler = 4 if short else 38
    filler = [_FILLER[rng.randrange(len(_FILLER))] for _ in range(n_filler)]
    rng.shuffle(sentences)
    all_sents = sentences + filler

    # entity ids C1.. in order of first appearance in the final text
    order: list[int] = []
    story_probe = " ".join(all_sents)
    pos = {c["idx"]: story_probe.find(surface[c["idx"]]) for c in ents}
    for cid in sorted(pos, key=lambda k: (pos[k] if pos[k] >= 0 else 1 << 30)):
        order.append(cid)
    cid_map = {cidx: f"C{i + 1}" for i, cidx in enumerate(order)}

    entities = [
        {
            "id": cid_map[c["idx"]],
            "type": "Company",
            "name": surface[c["idx"]],
            "attributes": {
                "companyName": c["canonical"],
                "ticker": c["ticker"],
                "industry": c["industry"],
                "country": c["country"],
            },
        }
        for c in sorted(ents, key=lambda c: order.index(c["idx"]))
    ]
    relationships = [
        {
            "id": f"R{i + 1}",
            "type": r["pred"],
            "source": cid_map[r["s"]],
            "target": cid_map[r["o"]],
            "attributes": {
                "valueAmount": r["valueAmount"],
                "percentage": r["percentage"],
                "transactionDate": r["transactionDate"],
            },
        }
        for i, r in enumerate(rels)
    ]
    triples = []
    for r in rels:
        sn, on = companies[r["s"]]["canonical"], companies[r["o"]]["canonical"]
        if r["pred"].lower() in schemas.SYMMETRIC_PREDICATES and sn > on:
            sn, on = on, sn
        triples.append(
            {
                "subj": sn, "pred": r["pred"], "obj": on,
                "value_amount": r["valueAmount"],
                "percentage": r["percentage"],
                "transaction_date": r["transactionDate"],
            }
        )
    return {
        "sentences": all_sents,
        "entities": entities,
        "relationships": relationships,
        "triples": triples,
        "is_english": True,
        "headline": f"Market update: {companies[order[0]]['canonical']}" if order else "Market update",
        "scramble": rng.random() < 0.30,
        "rng": rng,
    }


def _spans_from_sentences(sentences: list[str], doc_idx: int, rng: random.Random,
                          scramble: bool) -> list[dict[str, Any]]:
    """Pack sentences into 2-6 text spans, interleave media spans, assign
    ordinal offsets; optionally store in scrambled order (FIXTURES.md §1)."""
    n_spans = min(max(2, 1 + len(sentences) // 8), 6)
    chunks: list[list[str]] = [[] for _ in range(n_spans)]
    for i, s in enumerate(sentences):
        chunks[min(i * n_spans // max(1, len(sentences)), n_spans - 1)].append(s)
    spans: list[dict[str, Any]] = []
    offset = 0
    for ci, chunk in enumerate(chunks):
        if not chunk:
            continue
        spans.append({"kind": "text", "text": " ".join(chunk), "media_ref": "", "offset": offset})
        offset += 1
        if rng.random() < 0.35:
            h = hashlib.md5(f"{doc_idx}:{ci}".encode()).hexdigest()[:12]
            spans.append(
                {
                    "kind": "image" if rng.random() < 0.6 else "table",
                    "text": "",
                    "media_ref": f"media://{h}",
                    "offset": offset,
                }
            )
            offset += 1
    if scramble:
        rng.shuffle(spans)
    return spans


def gen_doc(doc_idx: int, companies: list[dict[str, Any]], seed: int,
            zipf: bool = False, typos: bool = False) -> dict[str, Any]:
    """Pure per-doc generator → one wide corpus row (doc + GT columns)."""
    klass = _doc_class(doc_idx)
    if klass == "dup" and doc_idx < 100:
        klass = "good"  # no earlier block to duplicate from
    if klass == "dup":
        # duplicate the story of a good doc from the PREVIOUS block, so the
        # original (lower doc_id, carrying the GT) survives keep-first dedup
        src_idx = doc_idx - 100 + 13 + (doc_idx % 100)
        src = _gen_good_doc(src_idx, companies, seed, zipf=zipf, typos=typos)
        rng = random.Random(f"{seed}:{doc_idx}:dup")
        spans = _spans_from_sentences(src["sentences"], doc_idx, rng, rng.random() < 0.3)
        return {
            "doc_id": f"doc_{doc_idx:08d}",
            "spans": spans,
            "is_english": True,
            "headline": src["headline"],
            "has_gt": False,  # dedup keeps first occurrence only
            "entities": [], "relationships": [], "triples": [],
        }
    if klass == "non_english":
        rng = random.Random(f"{seed}:{doc_idx}:noise")
        sents = [_NON_ENGLISH[rng.randrange(len(_NON_ENGLISH))] for _ in range(30)]
        spans = _spans_from_sentences(sents, doc_idx, rng, False)
        return {
            "doc_id": f"doc_{doc_idx:08d}",
            "spans": spans,
            "is_english": False,
            "headline": "Internationale Nachrichten",
            "has_gt": False,
            "entities": [], "relationships": [], "triples": [],
        }
    short = klass == "short"
    d = _gen_good_doc(doc_idx, companies, seed, short=short, zipf=zipf,
                      typos=typos)
    spans = _spans_from_sentences(d["sentences"], doc_idx, d["rng"], d["scramble"])
    return {
        "doc_id": f"doc_{doc_idx:08d}",
        "spans": spans,
        "is_english": True,
        "headline": d["headline"],
        "has_gt": not short,  # short docs are filtered out before extraction
        "entities": d["entities"] if not short else [],
        "relationships": d["relationships"] if not short else [],
        "triples": d["triples"] if not short else [],
    }


# ---------------------------------------------------------------------------
# Distributed corpus materialization
# ---------------------------------------------------------------------------
_CORPUS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(schemas.SPAN)),
        StructField("transmission_date", StringType()),
        StructField("headline", StringType()),
        StructField("isin_tags", StringType()),
        StructField("ticker_tags", StringType()),
        StructField("is_english", BooleanType()),
        StructField("has_gt", BooleanType()),
        StructField("entities", ArrayType(schemas.ENTITY)),
        StructField("relationships", ArrayType(schemas.RELATIONSHIP)),
        StructField("triples", ArrayType(
            StructType(
                [
                    StructField("subj", StringType()),
                    StructField("pred", StringType()),
                    StructField("obj", StringType()),
                    StructField("value_amount", StringType()),
                    StructField("percentage", StringType()),
                    StructField("transaction_date", StringType()),
                ]
            )
        )),
    ]
)


def corpus_df(spark: SparkSession, n_docs: int = 1000, seed: int = 42,
              n_companies: int | None = None, partitions: int | None = None,
              zipf: bool = False, typos: bool = False) -> DataFrame:
    """Wide corpus DataFrame: documents + per-doc ground truth, generated
    executor-side. Deterministic in (n_docs, seed, n_companies)."""
    import pandas as pd

    n_companies = n_companies or max(20, n_docs // 20)
    companies = make_companies(n_companies, seed)
    parts = partitions or max(8, min(256, n_docs // 2000 + 8))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_idx in pdf["id"]:
                d = gen_doc(int(doc_idx), companies, seed, zipf=zipf, typos=typos)
                rng = random.Random(f"{seed}:{int(doc_idx)}:meta")
                d["transmission_date"] = (
                    f"{rng.randint(2018, 2025):04d}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
                )
                d["isin_tags"] = ""
                d["ticker_tags"] = ""
                for t in d["triples"]:
                    t["value_amount"] = None if t["value_amount"] is None else repr(t["value_amount"])
                    t["percentage"] = None if t["percentage"] is None else repr(t["percentage"])
                rows.append(d)
            yield pd.DataFrame(rows, columns=[f.name for f in _CORPUS_SCHEMA.fields])

    return (
        spark.range(0, n_docs, numPartitions=parts)
        .mapInPandas(gen, schema=_CORPUS_SCHEMA)
    )


def documents_df(corpus: DataFrame) -> DataFrame:
    return corpus.select(
        "doc_id", "spans", "transmission_date", "headline",
        "isin_tags", "ticker_tags", "is_english",
    )


def gt_extractions_df(corpus: DataFrame) -> DataFrame:
    return corpus.filter(F.col("has_gt")).select("doc_id", "entities", "relationships")


def gt_triples_df(corpus: DataFrame) -> DataFrame:
    t = corpus.filter(F.col("has_gt")).select("doc_id", F.explode("triples").alias("t"))
    return t.select(
        "doc_id",
        F.col("t.subj").alias("subj"),
        F.col("t.pred").alias("pred"),
        F.col("t.obj").alias("obj"),
        F.col("t.value_amount").cast("double").alias("value_amount"),
        F.col("t.percentage").cast("double").alias("percentage"),
        F.col("t.transaction_date").alias("transaction_date"),
    )


def alias_dict_df(spark: SparkSession, n_companies: int, seed: int = 42,
                  typos: bool = False) -> DataFrame:
    companies = make_companies(n_companies, seed)
    rows = [
        (a, c["canonical"], c["ticker"], c["industry"], c["country"])
        for c in companies
        for a in aliases_for(c, typos)
    ]
    return local_frame(spark, rows, schemas.ALIAS_DICT)


def write_corpus(spark: SparkSession, out_dir: str, n_docs: int = 1000,
                 seed: int = 42, n_companies: int | None = None,
                 zipf: bool = False, typos: bool = False) -> None:
    """Materialize documents / alias_dict / gt_extractions / gt_triples as
    parquet under ``out_dir`` (the local stand-in for Iceberg tables)."""
    n_companies = n_companies or max(20, n_docs // 20)
    corpus = corpus_df(spark, n_docs, seed, n_companies, zipf=zipf, typos=typos)
    corpus.cache()
    documents_df(corpus).write.mode("overwrite").parquet(f"{out_dir}/documents")
    gt_extractions_df(corpus).write.mode("overwrite").parquet(f"{out_dir}/gt_extractions")
    gt_triples_df(corpus).write.mode("overwrite").parquet(f"{out_dir}/gt_triples")
    alias_dict_df(spark, n_companies, seed, typos=typos).write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/alias_dict")
    corpus.unpersist()
