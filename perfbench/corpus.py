"""Seeded input generation. The same seed gives byte-identical inputs.

Three kinds of input:

- staging batches of ``.txt`` / ``.md`` (with ``##`` headers) /
  ``.html`` files, with a share of byte-identical duplicates (the
  ``chat_churn`` store and its small writes, and the traced ingest
  probe);
- chat query texts drawn from the corpus vocabulary, with a share of
  exact repeats (``chat_churn``);
- the star-schema + ``documents`` / ``embeddings`` / ``events`` tables
  the registered queries read, in the column layout and value ranges
  of the engine's test tables (``core_queries``).

Nothing here touches Spark: inputs are written with the standard
library and pyarrow, so generation cost is the benchmark's, not the
engine's.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

_ONSETS = ["b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t",
           "v", "z", "br", "ch", "st", "tr", "pl"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ou"]
_CODAS = ["", "", "n", "r", "s", "t", "l", "x"]


def vocabulary(seed: int, n: int = 1200) -> list[str]:
    """``n`` distinct pronounceable pseudo-words, fixed by ``seed``."""
    rng = np.random.default_rng([seed, 1])
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(1, 4))
        w = "".join(
            _ONSETS[rng.integers(len(_ONSETS))]
            + _VOWELS[rng.integers(len(_VOWELS))]
            + _CODAS[rng.integers(len(_CODAS))]
            for _ in range(k)
        )
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


class TextGen:
    """Zipf-weighted word stream over a seeded vocabulary."""

    def __init__(self, seed: int, vocab_size: int = 1200) -> None:
        self.vocab = vocabulary(seed, vocab_size)
        w = 1.0 / np.arange(1, vocab_size + 1) ** 0.9
        self.p = w / w.sum()

    def words(self, rng: np.random.Generator, n: int) -> list[str]:
        idx = rng.choice(len(self.vocab), size=n, p=self.p)
        return [self.vocab[i] for i in idx]

    def paragraph(self, rng: np.random.Generator) -> str:
        return " ".join(self.words(rng, int(rng.integers(25, 70))))

    def document(self, rng: np.random.Generator, kind: str, n: int) -> bytes:
        paras = [self.paragraph(rng) for _ in range(int(rng.integers(2, 6)))]
        title = " ".join(self.words(rng, 3))
        if kind == "txt":
            text = f"{title}\n\n" + "\n\n".join(paras) + "\n"
        elif kind == "md":
            parts = [f"# {title}"]
            for i, p in enumerate(paras):
                parts.append(f"## section {i + 1} {self.words(rng, 1)[0]}\n\n{p}")
            text = "\n\n".join(parts) + "\n"
        else:
            body = "".join(f"<p>{p}</p>\n" for p in paras)
            text = (f"<html><head><title>{title}</title></head><body>\n"
                    f"<h1>{title}</h1>\n{body}</body></html>\n")
        # a per-file serial keeps distinct files distinct in content
        return text.replace(title, f"{title} {n}", 1).encode()


@dataclass
class Batch:
    """One staging directory: ``files`` maps file name -> content."""

    path: str
    files: dict[str, bytes]

    @property
    def groups(self) -> list[list[str]]:
        """File names grouped by identical content."""
        by: dict[bytes, list[str]] = {}
        for name, raw in self.files.items():
            by.setdefault(raw, []).append(name)
        return list(by.values())


KINDS = ("txt", "md", "html")


def write_batch(gen: TextGen, rng: np.random.Generator, path: str,
                n_files: int, dup_share: float, serial0: int) -> Batch:
    """Write ``n_files`` files to ``path``: a ``dup_share`` of them are
    byte-identical copies of other files of the same batch."""
    n_dup = int(round(n_files * dup_share))
    files: dict[str, bytes] = {}
    originals: list[tuple[str, bytes]] = []
    for i in range(n_files - n_dup):
        kind = KINDS[int(rng.integers(len(KINDS)))]
        raw = gen.document(rng, kind, serial0 + i)
        name = f"doc_{serial0 + i:07d}.{kind}"
        files[name] = raw
        originals.append((kind, raw))
    for j in range(n_dup):
        kind, raw = originals[int(rng.integers(len(originals)))]
        files[f"dup_{serial0 + j:07d}.{kind}"] = raw
    os.makedirs(path)
    for name, raw in files.items():
        with open(os.path.join(path, name), "wb") as f:
            f.write(raw)
    return Batch(path, files)


def chat_queries(gen: TextGen, rng: np.random.Generator, n: int,
                 repeat_share: float) -> list[str]:
    """``n`` query texts of 2-5 corpus words; a ``repeat_share`` of them
    repeat an earlier query exactly."""
    out: list[str] = []
    for _ in range(n):
        if out and rng.random() < repeat_share:
            out.append(out[int(rng.integers(len(out)))])
        else:
            out.append(" ".join(gen.words(rng, int(rng.integers(2, 6)))))
    return out


# ---- the star-schema test tables ----------------------------------------

# the engine's text operators (BPE merges, quality filters) are pinned
# to this vocabulary; the test tables draw from exactly these words, and
# "dup" marks a near-duplicate document
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def write_tables(seed: int, path: str) -> None:
    """The ten tables the registered queries read, one parquet file
    each, with the schemas, row counts and value distributions of the
    engine's sf0.01 test tables: uniform keys and dates, 10-99 words per
    document of which 5% are near-duplicates (another document plus
    the word ``dup``), and unclustered unit embedding vectors."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    os.makedirs(path)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(path, f"{name}.parquet"))

    def ts(days0: str, days: int, n: int, with_time: bool) -> pa.Array:
        base = np.datetime64(days0, "us")
        off = rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")
        if with_time:
            off = off + rng.integers(0, 86_400_000_000, n).astype("timedelta64[us]")
        return pa.array(np.sort(base + off) if with_time else base + off,
                        type=pa.timestamp("us"))

    n_cust, n_supp, n_part = 1500, 100, 2000
    n_ord, n_li = 15000, 60000
    n_doc, n_vec, n_ev = 500, 500, 10000

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    put("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"],
            n_cust).tolist(),
    })
    put("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adjs = ["small", "red", "blue", "hot", "cold", "green", "large", "shiny"]
    nouns = ["ring", "widget", "bolt", "gear", "nut", "valve", "pipe", "spring"]
    put("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adjs[rng.integers(8)]} {nouns[rng.integers(8)]}"
                   for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL",
                              "ECONOMY"], n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    put("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord).tolist(),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": ts("1995-01-01", 2405, n_ord, False),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord).tolist(),
    })
    qty = rng.integers(1, 51, n_li).astype(float)
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": rng.choice(["R", "A", "N"], n_li).tolist(),
        "l_linestatus": rng.choice(["O", "F"], n_li).tolist(),
        "l_shipdate": ts("1995-01-02", 2500, n_li, False),
    })
    texts = [" ".join(rng.choice(DOC_WORDS, int(rng.integers(10, 100))))
             for _ in range(n_doc)]
    for i, j in rng.choice(n_doc, (n_doc // 20, 2), replace=False):
        texts[i] = texts[j] + " dup"
    put("documents", {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=_LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_vec)
    vecs = rng.normal(0.0, 1.0, (n_vec, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    put("events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": ts("2024-01-01", 30, n_ev, True),
        "user_id": pa.array(rng.integers(0, n_cust // 10, n_ev), pa.int64()),
        "event_type": rng.choice(["click", "purchase", "error", "signup", "view"],
                                 n_ev).tolist(),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
