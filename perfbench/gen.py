"""Seeded input generators for the benchmark workloads.

Every generator takes the workload seed and writes plain files (JSON
transcripts, parquet tables) or returns numpy arrays; the program under
test only ever sees the generated inputs. The same seed always yields
byte-identical inputs.
"""

from __future__ import annotations

import json
import os

import numpy as np

# ---- Oyez-shaped oral-argument transcripts -------------------------

_VOCAB = (
    "the court counsel justice question statute record petitioner "
    "respondent because argument honor case whether congress amendment "
    "jurisdiction precedent state federal district circuit appeal rule "
    "law evidence trial jury claim right clause government agency "
    "authority interpretation reading text history purpose standard "
    "review deference remedy injury standing doctrine provision section "
    "language meaning intent burden proof habeas petition brief footnote "
    "opinion dissent majority holding test factor analysis framework "
    "contract property tax commerce speech religion search seizure "
    "warrant officer defendant plaintiff damages liability regulation "
    "would could should might must that this those there which what "
    "when where is was are were be been have has had do does did not "
    "and or but if then so a an of to in on for with at by from as"
).split()

_JUSTICES = [
    "Roberts", "Thomas", "Alito", "Sotomayor", "Kagan", "Gorsuch",
    "Kavanaugh", "Barrett", "Jackson", "Breyer", "Ginsburg", "Kennedy",
    "Scalia", "Stevens", "Souter", "OConnor",
]


def _zipf_words(rng: np.random.Generator, n: int) -> str:
    # Zipf-like rank distribution over the vocabulary: a few function
    # words dominate, legal terms form the tail
    ranks = np.minimum(rng.zipf(1.3, n) - 1, len(_VOCAB) - 1)
    return " ".join(_VOCAB[r] for r in ranks)


def make_transcript(case_no: int, term: int, rng: np.random.Generator,
                    shape: np.random.Generator) -> tuple[dict, int]:
    """One transcript shaped like ``tests/fixtures_oa.make_doc`` at
    realistic size: 2-4 sections, 20-60 turns per section, 1-3 text
    blocks per turn of 2-40 words. ``shape`` draws those sizes, ``rng``
    the content. Returns the document and its count of blocks with at
    least 4 tokens (the flattener's keep rule)."""
    t = 0.0
    kept = 0
    bench = rng.choice(len(_JUSTICES), 9, replace=False)
    sections = []
    for si in range(int(shape.integers(2, 5))):
        turns = []
        for ti in range(int(shape.integers(20, 61))):
            blocks = []
            for _ in range(int(shape.integers(1, 4))):
                n = int(shape.integers(2, 41))
                kept += n >= 4
                text = _zipf_words(rng, n)
                blocks.append(
                    {"start": round(t, 3), "stop": round(t + n * 0.4, 3),
                     "byte_start": 0, "byte_stop": len(text), "text": text}
                )
                t += n * 0.4
            if ti % 2 == 0:
                j = int(bench[int(rng.integers(0, 9))])
                speaker = {"ID": 100 + j, "name": f"Justice {_JUSTICES[j]}",
                           "roles": ["scotus_justice"]}
            else:
                a = int(rng.integers(0, 2))
                speaker = {"ID": 5000 + case_no * 2 + a,
                           "name": f"Advocate {case_no}-{a}", "roles": ["attorney"]}
            turns.append({"start": blocks[0]["start"], "stop": blocks[-1]["stop"],
                          "speaker": speaker, "text_blocks": blocks})
        sections.append({"start": turns[0]["start"], "stop": turns[-1]["stop"],
                         "byte_start": 0, "byte_stop": 1, "turns": turns})
    doc = {
        "id": f"oa_{case_no}",
        "title": f"Case {case_no} v. United States",
        "term": str(term),
        "case_id": f"{term}_c{case_no}",
        "docket_number": f"{case_no % 100}-{1000 + case_no}",
        "session": "october",
        "transcript": {"title": f"Case {case_no}", "duration": round(t, 3),
                       "sections": sections},
    }
    return doc, kept


def write_transcripts(dirpath: str, n_docs: int, seed: int) -> dict:
    """Write ``n_docs`` transcripts over 20 terms (2004-2023), one JSON
    file each, plus malformed files (1%, at least one) for the
    quarantine path. Returns the expected counts.

    The seed draws the content (words, terms, speakers); the sizes
    (sections, turns, blocks, words per block) come from a fixed
    stream, so every seed does the same amount of work."""
    rng = np.random.default_rng(seed)
    shape = np.random.default_rng(0)
    os.makedirs(dirpath, exist_ok=True)
    kept = sections = 0
    for i in range(n_docs):
        doc, k = make_transcript(i, 2004 + int(rng.integers(0, 20)), rng, shape)
        kept += k
        sections += len(doc["transcript"]["sections"])
        with open(os.path.join(dirpath, f"{doc['id']}.json"), "w") as f:
            json.dump(doc, f, indent=1)
    n_junk = max(1, round(0.01 * n_docs))
    for j in range(n_junk):
        with open(os.path.join(dirpath, f"junk_{j}.json"), "w") as f:
            f.write('{"id": "broken_%d", "transcript": [unclosed' % j)
    corpus_bytes = sum(
        os.path.getsize(os.path.join(dirpath, f)) for f in os.listdir(dirpath)
    )
    return {"documents": n_docs, "junk": n_junk, "utterances": kept,
            "sections": sections, "corpus_bytes": corpus_bytes}


# ---- Gaussian-mixture vectors --------------------------------------

def mixture_centres(seed: int, dim: int) -> np.ndarray:
    """The 32 unit-variance centres of the seed's Gaussian mixture."""
    return np.random.default_rng(seed).normal(size=(32, dim))


def mixture_points(centres: np.ndarray, rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` float64 vectors drawn from the mixture around ``centres``
    (per-dimension spread 0.35)."""
    labels = rng.integers(0, len(centres), n)
    return centres[labels] + 0.35 * rng.normal(size=(n, centres.shape[1]))


def queries_near(rng: np.random.Generator, corpus: np.ndarray, n: int) -> np.ndarray:
    """Query vectors drawn near random corpus points (noise 0.1 per
    dimension)."""
    picks = corpus[rng.integers(0, len(corpus), n)]
    return picks + 0.1 * rng.normal(size=picks.shape)


# ---- Star-schema + events + documents + embeddings tables ----------

_DOC_WORDS = (
    "join hash row batch scan customer column filter small slow merge "
    "order vector line data table agg value key stream window spark a "
    "group part big sort query fast the"
).split()


def write_tables(dirpath: str, seed: int) -> dict:
    """The registry queries' input tables (region nation customer
    supplier part orders lineitem events documents embeddings) at TPC-H
    scale factor 0.01 (15k orders, 60k line items), with the column
    types and value domains the queries and their DuckDB oracles
    expect."""
    scale = 0.01
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(dirpath, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_ev = int(1_500_000 * scale), int(1_000_000 * scale)
    n_docs, n_emb = 500, 500
    day = np.timedelta64(1, "D")

    def ts(start: str, n_days: int, n: int) -> np.ndarray:
        return (np.datetime64(start, "us") + rng.integers(0, n_days, n) * day).astype("datetime64[us]")

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(values: list[str], n: int) -> list[str]:
        return [values[i] for i in rng.integers(0, len(values), n)]

    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(
                pick("blue cold hot large new old red small".split(), n_part),
                pick("anvil bolt gear gizmo plate ring rod widget".split(), n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000.0, 500_000.0, n_ord),
            "o_orderdate": ts("1995-01-01", 2404, n_ord),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        },
    }
    n_li = 4 * n_ord
    tables["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": ts("1995-01-02", 2498, n_li),
    }
    ev_ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]")
    )
    tables["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, max(1, n_ev // 66), n_ev).astype(np.int64),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    texts = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.04:
            # near-duplicate of an earlier document (dedup/overlap paths)
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(pick(_DOC_WORDS, n)))
    tables["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": pick(["en", "en", "en", "de", "es", "fr", "zh"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    labels = rng.integers(0, 10, n_emb)
    centres = rng.normal(size=(10, 64))
    emb = centres[labels] * 0.15 + rng.normal(size=(n_emb, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }
    rows = {}
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(dirpath, f"{name}.parquet"))
        rows[name] = len(next(iter(cols.values())))
    return rows
