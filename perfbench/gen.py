"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed (numpy ``default_rng``),
runs in this one process, and writes its tables once per seed under the
benchmark's work directory, outside any timed region.  Each returns a
``props`` dict of the input properties the workload was chosen for;
``run.py`` prints it.

* ``crawl_pages`` — Common-Crawl-style pages in ``corpus.make_page``'s
  layout (url, warc_ts, html, text, lang): short docs, a hot host, mostly
  ``en``, ~25% exact-duplicate re-crawls under new urls, a Zipfian
  vocabulary larger than ``tokenization``'s token memo, and an alias
  dictionary that makes exact, lsh and self canonicalization verdicts all
  occur.
* ``suite_tables`` — the sf-style tables the 19 bench queries read
  (documents, embeddings, the TPC-H-ish star, events), with the value
  domains of the sf testdata tables (FIXTURES.md §4).  Pinned: the operator suite's
  seed only permutes query order.
"""

from __future__ import annotations

import hashlib
import json
import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd

from jerex_spark.corpus import ENTITY_SURFACE, HOSTS, LANGS
from jerex_spark.tokenization import _TOK_CACHE_MAX

CRAWL_PAGES = 1500
CRAWL_DUP_FRAC = 0.25
CRAWL_VOCAB = 3 * _TOK_CACHE_MAX // 2     # word types > the token memo
SUITE_SEED = 42
SUITE_DOCS = 1500
SUITE_VECTORS = 1000

_CONS = "bcdfghjklmnprstvwz"
_VOWS = "aeiou"
_SYLL = [c + v for c in _CONS for v in _VOWS]          # 90 syllables
_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _write(df: pd.DataFrame, path: str) -> None:
    # microsecond timestamps: Spark's parquet reader rejects the
    # TIMESTAMP(NANOS) pandas writes by default
    df.to_parquet(path, index=False, coerce_timestamps="us",
                  allow_truncated_timestamps=True)


def _word(i: int) -> str:
    """Distinct pronounceable word for every non-negative integer."""
    out = []
    while True:
        i, r = divmod(i, len(_SYLL))
        out.append(_SYLL[r])
        if i == 0:
            return "".join(out) if len(out) > 1 else out[0] + "x"
        i -= 1


def _zipf_ranks(rng, n_types: int, size: int, s: float = 1.05):
    p = 1.0 / np.arange(1, n_types + 1) ** s
    cdf = np.cumsum(p / p.sum())
    return np.minimum(np.searchsorted(cdf, rng.random(size)), n_types - 1)


class _Stream:
    """Consumes a pre-drawn array of word ranks ``n`` at a time."""

    def __init__(self, ranks):
        self.ranks, self.pos = ranks, 0

    def __call__(self, n):
        out = self.ranks[self.pos:self.pos + n]
        self.pos += n
        return out


def _page(url: str, ts: datetime, text: str, lang: str) -> dict:
    title = url.rsplit("/", 1)[-1]
    html = (f"<html><head><title>{title}</title></head><body>"
            f"<h1>{title}</h1>\n<p>{text}</p>\n</body></html>").encode()
    return {"url": url, "warc_ts": ts, "html": html, "text": text,
            "lang": lang}


def _surfaces() -> list[str]:
    return [s for forms in ENTITY_SURFACE.values() for s in forms]


def _perturb(word: str) -> str:
    """One-character substitution: an alias the exact join misses but
    the char-3-gram LSH + edit-distance verify (ratio <= 0.34) accepts."""
    k = len(word) // 2
    return word[:k] + ("q" if word[k] != "q" else "x") + word[k + 1:]


def _sentences(rng, words, ranks) -> str:
    """2-6 sentences of 6-17 Zipfian words, each with 0-2 planted entity
    surfaces — ``corpus.make_page``'s shape over a large vocabulary."""
    surf = _surfaces()
    sents = []
    for _ in range(int(rng.integers(2, 7))):
        toks = [words[int(j)] for j in ranks(int(rng.integers(6, 18)))]
        for _ in range(int(rng.integers(0, 3))):
            pos = int(rng.integers(0, len(toks) + 1))
            toks[pos:pos] = surf[int(rng.integers(len(surf)))].split()
        sents.append(" ".join(toks) + ".")
    return " ".join(sents)


def crawl_pages(seed: int, out_dir: str) -> dict:
    rng = np.random.default_rng([seed, 1])
    perm = rng.permutation(CRAWL_VOCAB)
    words = [_word(int(i)) for i in perm]

    # 6 sentences x 17 tokens bounds every page from above
    ranks = _Stream(_zipf_ranks(rng, CRAWL_VOCAB, CRAWL_PAGES * 6 * 17))

    n_orig = int(round(CRAWL_PAGES * (1 - CRAWL_DUP_FRAC)))
    rows = []
    for i in range(CRAWL_PAGES):
        host = HOSTS[3] if rng.random() < 0.2 else HOSTS[int(rng.integers(3))]
        ts = _EPOCH + timedelta(seconds=int(rng.integers(86400 * 90)))
        url = f"https://{host}/s{seed}/page/{i}"
        if i < n_orig:
            lang = "en" if rng.random() < 0.7 else LANGS[
                int(rng.integers(len(LANGS)))]
            text = _sentences(rng, words, ranks)
        else:   # exact re-crawl of an earlier page under a new url
            src = rows[int(rng.integers(n_orig))]
            text, lang = src["text"], src["lang"]
        rows.append(_page(url, ts, text, lang))
    order = rng.permutation(CRAWL_PAGES)
    pages = pd.DataFrame([rows[int(i)] for i in order])

    # alias dictionary: the planted surfaces and the 300 most frequent
    # words verbatim (exact verdicts), 300 next-most-frequent words one
    # edit away (lsh verdicts); every other surface stays self-canonical
    head = [words[r] for r in range(600)]
    exact = _surfaces() + head[:300]
    fuzzy = [_perturb(w) for w in head[300:]]
    alias = pd.DataFrame({
        "alias": exact + fuzzy,
        "canonical_id": [f"Q{i}" for i in range(len(exact) + len(fuzzy))]})
    _write(pages, os.path.join(out_dir, "pages.parquet"))
    _write(alias, os.path.join(out_dir, "alias.parquet"))

    toks = pages["text"].str.split()
    n_tok = toks.str.len()
    counts = pd.Series([t.rstrip(".") for ts_ in toks for t in ts_]
                       ).value_counts()
    exact_set, fuzzy_set = set(head[:300]), set(head[300:])
    return {
        "docs": CRAWL_PAGES,
        "tokens_q10_q50_q90_max": _quantiles(n_tok),
        "exact_dup_share": round(float(pages["text"].duplicated().mean()), 4),
        "hot_host_share": round(float(
            pages["url"].str.contains(HOSTS[3]).mean()), 4),
        "en_share": round(float((pages["lang"] == "en").mean()), 4),
        "distinct_token_types": int(len(counts)),
        "vocab_types": CRAWL_VOCAB,
        "token_memo_entries": _TOK_CACHE_MAX,
        "alias_dict_size": len(alias),
        # expected canonicalization mix, as the token share each verdict
        # kind would get if every token were a one-word mention
        "expected_token_mix_exact_lsh_self": _mix(counts, exact_set,
                                                  fuzzy_set),
    }


def _quantiles(s: pd.Series) -> list[int]:
    return [int(x) for x in s.quantile([0.1, 0.5, 0.9, 1.0])]


def _mix(counts: pd.Series, exact: set, fuzzy: set) -> list[float]:
    tot = float(counts.sum())
    e = float(counts[counts.index.isin(exact)].sum()) / tot
    f = float(counts[counts.index.isin(fuzzy)].sum()) / tot
    return [round(e, 4), round(f, 4), round(1 - e - f, 4)]


# --- operator suite tables ---------------------------------------------

_DOC_WORDS = ("a agg batch big column customer data dup fast filter group "
              "hash join key line merge order part query row scan slow "
              "small sort spark stream table the value vector window"
              ).split()


def suite_tables(out_dir: str) -> dict:
    """sf-style tables with the testdata value domains, at a scale where
    one pass of the 19 queries fits a benchmark run on a small host."""
    rng = np.random.default_rng(SUITE_SEED)
    n, n_vec = SUITE_DOCS, SUITE_VECTORS
    texts = [" ".join(rng.choice(_DOC_WORDS, int(rng.integers(10, 101))))
             for _ in range(n)]
    for i in range(0, n, 100):          # planted exact duplicates
        texts[i + 1] = texts[i]
    langs = rng.choice(["en", "en", "zh", "es", "fr", "de"], n)
    docs = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64), "text": texts,
        "lang": langs, "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    x = rng.standard_normal((n_vec, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": list(x),
        "label": rng.integers(0, 10, n_vec).astype(np.int32)})

    n_cust, n_ord, n_li, n_part, n_supp = 1500, 15000, 60000, 2000, 100
    region = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    customer = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    part = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(["blue", "red", "small", "big", "green", "tiny",
                        "large", "old"], n_part),
            rng.choice(["anvil", "widget", "ring", "gear", "bolt", "nut",
                        "pipe", "valve"], n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                              "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10,
                                  2)})
    day0 = pd.Timestamp("1995-01-01")
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": day0 + pd.to_timedelta(
            rng.integers(0, 2400, n_ord), unit="D"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord)})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": day0 + pd.to_timedelta(
            rng.integers(1, 2500, n_li), unit="D")})
    n_ev = 10000
    events = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(
            np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)), unit="us"),
        "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], n_ev),
        "value": np.round(rng.exponential(50, n_ev) + 0.01, 2),
        "props": [json.dumps({"k": int(k)})
                  for k in rng.integers(0, 100, n_ev)]})
    tables = {"documents": docs, "embeddings": emb, "region": region,
              "nation": nation, "customer": customer, "supplier": supplier,
              "part": part, "orders": orders, "lineitem": lineitem,
              "events": events}
    for name, df in tables.items():
        _write(df, os.path.join(out_dir, f"{name}.parquet"))
    return {"docs": n, "vectors": n_vec, "lineitem_rows": n_li,
            "exact_dup_share": round(float(docs["text"].duplicated().mean()),
                                     4),
            "tokens_q10_q50_q90_max": _quantiles(
                docs["text"].str.split().str.len())}


def generate(workload: str, seed: int, root: str) -> tuple[str, dict]:
    """Write the workload's inputs under ``root`` once per (workload,
    seed, generator source).  Returns (input dir, props)."""
    with open(__file__, "rb") as f:
        tag = hashlib.sha1(f.read()).hexdigest()[:10]
    key = "suite" if workload == "operator_suite" else f"{workload}-{seed}"
    out = os.path.join(root, f"{key}-{tag}")
    done = os.path.join(out, "props.json")
    if os.path.exists(done):
        with open(done) as f:
            return out, json.load(f)
    os.makedirs(out, exist_ok=True)
    props = (suite_tables(out) if workload == "operator_suite"
             else crawl_pages(seed, out))
    with open(done, "w") as f:
        json.dump(props, f)
    return out, props
