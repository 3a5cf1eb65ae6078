"""Seeded input generators for the three benchmark workloads.

Everything the program under test sees is produced here from one
integer seed, with NumPy's PCG64 generator: the same seed gives
byte-identical fixture tables, request pools, change logs and document
batches. Nothing here imports pyspark, so the generators can be tested
without a JVM.

- :func:`write_fixture` writes the TPC-H-shaped parquet tables that
  ``sources.tpch.load_tables`` reads and ``sources.vams`` derives the
  catalog views from (part -> assets, lineitem -> files, orders ->
  metadata, part self-edges -> asset_links).
- :func:`search_pool` / :func:`search_decks` build the catalog_search
  request pool and the fixed-mix, Zipf-reused request decks drawn from it.
- :func:`change_batches` builds the catalog_ingest routed change log
  (rows of ``streaming.cdc.ROUTED_CHANGE_LOG_SCHEMA``).
- :func:`doc_batches` builds the corpus_build document batches.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

#: catalog size of every workload (assets = parts, files = lineitems).
#: Smaller than the repo's sf0.1 fixture so that one run, including JVM
#: start and set-up, fits the benchmark's time budget.
N_PART = 2000
N_ORDERS = 4000
N_CUSTOMER = 800
N_SUPPLIER = 100
LINES_PER_ORDER = 4  # mean; 1..7 per order
N_BASE_DOCS = 1000

BRANDS = tuple(f"Brand#{i}" for i in range(1, 26))
P_TYPES = ("ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL", "MEDIUM")
NAME_ADJ = (
    "small", "large", "red", "blue", "green", "steel", "wooden", "bright",
    "dark", "polished", "rough", "hollow", "heavy", "light", "frosted",
    "golden", "silver", "carbon", "glass", "stone",
)
NAME_NOUN = (
    "ring", "bolt", "valve", "frame", "panel", "lamp", "chair", "table",
    "pipe", "gear", "wheel", "plate", "beam", "tower", "bridge", "drone",
    "robot", "statue", "engine", "vessel",
)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "error", "purchase")

#: document vocabulary: language marker words (operators.text.LANG_MARKERS)
#: plus a synthetic content vocabulary large enough that unrelated
#: documents share almost no word 3-grams (the MinHash shingle).
LANG_WORDS = {
    "en": ("the", "and", "of", "to", "in", "is", "for", "with"),
    "de": ("der", "die", "und", "das", "mit"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "los", "que", "las", "con"),
    "zh": ("zhe", "shi", "bu", "you"),
}
LANGS = ("en", "de", "fr", "es", "zh")
_SYLL = ("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "po", "da", "fe")
VOCAB = tuple(
    a + b + c for a in _SYLL for b in _SYLL for c in ("n", "r", "s", "t")
)  # 576 content words, 6 letters each


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent deterministic stream per input kind, so adding draws
    to one generator never shifts another's inputs."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, tag])


# ---------------------------------------------------------------------------
# fixture tables
# ---------------------------------------------------------------------------

def _ts(days: np.ndarray) -> np.ndarray:
    base = np.datetime64("1992-01-01T00:00:00", "us")
    return base + (days.astype(np.int64) * 86_400_000_000).astype("timedelta64[us]")


def doc_text(rng: np.random.Generator, lang: str, n_words: int) -> str:
    """One synthetic document: content words with ~30% language-marker
    words, and occasionally a PII span for the redaction pass."""
    words = rng.choice(VOCAB, size=n_words).tolist()
    markers = LANG_WORDS[lang]
    for i in np.flatnonzero(rng.random(n_words) < 0.3):
        words[i] = markers[rng.integers(len(markers))]
    r = rng.random()
    if r < 0.25:
        words.insert(
            int(rng.integers(n_words)),
            f"user{int(rng.integers(1000))}@example.com",
        )
    elif r < 0.4:
        a, b, c = rng.integers(100, 999), rng.integers(100, 999), rng.integers(1000, 9999)
        words.insert(int(rng.integers(n_words)), f"{a}-{b}-{c}")
    return " ".join(words)


def fixture_tables(seed: int, n_docs: int = N_BASE_DOCS) -> dict[str, dict]:
    """Column arrays of every fixture table (see module doc); the
    documents table holds ``n_docs`` documents."""
    rng = _rng(seed, "fixture")
    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    t["customer"] = {
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, N_CUSTOMER), 2),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER).tolist(),
    }
    t["supplier"] = {
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, N_SUPPLIER), 2),
    }
    adj = rng.choice(NAME_ADJ, N_PART)
    noun = rng.choice(NAME_NOUN, N_PART)
    t["part"] = {
        "p_partkey": np.arange(N_PART, dtype=np.int64),
        "p_name": [f"{a} {n}" for a, n in zip(adj, noun)],
        "p_brand": rng.choice(BRANDS, N_PART).tolist(),
        "p_type": rng.choice(P_TYPES, N_PART).tolist(),
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900, 2000, N_PART), 2),
    }
    t["orders"] = {
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": rng.choice(("F", "O", "P"), N_ORDERS).tolist(),
        "o_totalprice": np.round(rng.uniform(1000, 400000, N_ORDERS), 2),
        "o_orderdate": _ts(rng.integers(0, 2400, N_ORDERS)),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS).tolist(),
    }
    lines = rng.integers(1, 2 * LINES_PER_ORDER, N_ORDERS)
    okey = np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, n + 1) for n in lines]).astype(np.int32)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, N_PART, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, n_li).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": rng.choice(("A", "N", "R"), n_li).tolist(),
        "l_linestatus": rng.choice(("F", "O"), n_li).tolist(),
        "l_shipdate": _ts(rng.integers(0, 2500, n_li)),
    }
    n_ev = 2000
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.zeros(n_ev)) + np.sort(rng.integers(0, 10**12, n_ev)).astype(
            "timedelta64[us]"
        ),
        "user_id": rng.integers(0, 100, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
        "value": np.round(rng.uniform(0, 100, n_ev), 2),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_ev)],
    }
    langs = rng.choice(LANGS, n_docs, p=(0.4, 0.15, 0.15, 0.15, 0.15))
    texts = [doc_text(rng, str(lang), int(rng.integers(30, 90))) for lang in langs]
    t["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 5}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    n_vec = 200
    t["embeddings"] = {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": [
            v.astype(np.float32).tolist() for v in rng.normal(0, 0.2, (n_vec, 16))
        ],
        "label": rng.integers(0, 5, n_vec).astype(np.int32),
    }
    return t


def write_fixture(tables: dict, out_dir: str) -> str:
    """Write one ``<table>.parquet`` per table of ``tables`` (see
    :func:`fixture_tables`) into ``out_dir``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        arrays = {}
        for col, vals in cols.items():
            if col == "embedding":
                arrays[col] = pa.array(vals, type=pa.list_(pa.float32()))
            else:
                arrays[col] = pa.array(vals)
        pq.write_table(pa.table(arrays), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# ---------------------------------------------------------------------------
# catalog_search: request pool + Zipf reuse
# ---------------------------------------------------------------------------

LOOKUP_KINDS = ("get_asset", "get_metadata", "links", "suggest", "list_page")
SEARCH_KINDS = ("filter", "text", "dual", "metadata_query", "facets")
KINDS = LOOKUP_KINDS + SEARCH_KINDS
POOL_SIZE = 300
ZIPF_S = 1.1
PAGE = 50  # hits per search page


@dataclass(frozen=True)
class Request:
    """One catalog_search request: its kind, whether it goes to the
    ABAC-constrained service, and its parameters as sorted pairs."""

    rid: int
    kind: str
    constrained: bool
    params: tuple[tuple[str, object], ...]

    def p(self, key: str):
        return dict(self.params)[key]


def _asset_key(pk: int) -> tuple[str, str]:
    return f"db_{pk % 20}", f"asset_{pk}"


def _params(rng: np.random.Generator, kind: str) -> dict:
    if kind in ("get_asset", "links"):
        db, aid = _asset_key(int(rng.integers(N_PART)))
        return {"database_id": db, "asset_id": aid}
    if kind == "get_metadata":
        # orders -> metadata covers asset keys 1..199
        db, aid = _asset_key(int(rng.integers(1, 200)))
        return {"database_id": db, "asset_id": aid}
    if kind == "suggest":
        word = str(rng.choice(NAME_ADJ + NAME_NOUN))
        return {"prefix": word[: int(rng.integers(1, 5))]}
    if kind == "list_page":
        return {
            "database_id": f"db_{int(rng.integers(20))}",
            "page_size": PAGE,
            "after": f"asset_{int(rng.integers(N_PART))}",
        }
    if kind == "filter":
        return {
            "ext": str(rng.choice(("glb", "gltf", "png", "ifc", "obj"))),
            "min_size": int(rng.integers(1000, 90000)),
            "sort_desc": bool(rng.integers(2)),
        }
    if kind == "text":
        return {"query": str(rng.choice(NAME_ADJ + NAME_NOUN))}
    if kind == "dual":
        return {"query": str(rng.choice(("glb", "gltf", "obj", "ifc")))}
    if kind == "metadata_query":
        return {"mq": str(rng.choice((
            "status:F", "status:O", "priority:1*", "priority:*HIGH",
            "price_tier:high", "price_tier:low", "order_date:199*",
        )))}
    return {  # facets
        "field": str(rng.choice(("asset_type", "tags", "file_ext"))),
        "database_id": f"db_{int(rng.integers(20))}",
    }


def search_pool(seed: int) -> list[Request]:
    """``POOL_SIZE`` distinct requests, an equal share of each kind; half
    target the constrained service. Parameters reference keys the
    fixture really holds."""
    rng = _rng(seed, "search")
    pool: list[Request] = []
    seen: set = set()
    for kind in KINDS:
        want = len(pool) + POOL_SIZE // len(KINDS)
        tries = 0
        while len(pool) < want and tries < 100 * POOL_SIZE:
            tries += 1
            constrained = bool(rng.integers(2))
            ident = (kind, constrained, tuple(sorted(_params(rng, kind).items())))
            if ident not in seen:
                seen.add(ident)
                pool.append(Request(len(pool), *ident))
    return pool


def search_decks(seed: int, pool: list[Request]):
    """Yield decks of requests: one request of every kind per deck, in a
    seeded order, so the request mix is the same for every seed. Within
    a kind, requests are drawn Zipf(``ZIPF_S``)-style over a seeded
    popularity order of that kind's share of ``pool``: a few are hot and
    repeat often, most are rare."""
    rng = _rng(seed, "stream")
    by_kind: dict[str, list[Request]] = {}
    for r in pool:
        by_kind.setdefault(r.kind, []).append(r)
    popularity = {}
    for kind, reqs in by_kind.items():
        p = np.arange(1, len(reqs) + 1, dtype=float) ** -ZIPF_S
        popularity[kind] = (rng.permutation(len(reqs)), p / p.sum())
    while True:
        deck = []
        for kind in rng.permutation(KINDS):
            order, p = popularity[kind]
            deck.append(by_kind[kind][order[rng.choice(len(order), p=p)]])
        yield deck


#: the constrained service's ABAC policy (operators.authz criteria):
#: allow ten of the twenty databases, deny one of those again
ALLOWED_DATABASES = tuple(f"db_{i}" for i in range(0, 20, 2))
DENIED_DATABASE = "db_4"


# ---------------------------------------------------------------------------
# catalog_ingest: routed change log
# ---------------------------------------------------------------------------

CHANGE_BATCH = 200
SOURCE_SHARES = (("files", 0.4), ("metadata", 0.3), ("assets", 0.2), ("asset_links", 0.1))


def file_keys(tables: dict) -> list[tuple[str, str, str]]:
    """(database_id, asset_id, file_key) of every fixture file, as
    sources.vams's files view derives them."""
    li = tables["lineitem"]
    exts = {0: "glb", 1: "gltf", 2: "png", 3: "ifc", 4: "obj"}
    out = []
    for ok, pk, ln in zip(li["l_orderkey"], li["l_partkey"], li["l_linenumber"]):
        db, aid = _asset_key(int(pk))
        out.append((db, aid, f"/f/{int(ok)}_{int(ln)}.{exts[int(ln) % 5]}"))
    return out


def change_batches(seed: int, n_batches: int, files: list[tuple]):
    """Yield ``n_batches`` batches of ``CHANGE_BATCH`` routed change rows
    touching the fixture files ``files`` (see :func:`file_keys`).

    Mix: 40% file events, 30% file-level metadata events, 20% asset
    events (REMOVEs of live assets and re-INSERTs of assets removed in
    an earlier batch, besides MODIFYs) and 10% asset_links events. A key
    is removed or re-inserted at most once per batch, so each batch's
    outcome does not depend on row order within it."""
    rng = _rng(seed, "ingest")
    removed: list[int] = []
    seq = 0
    n_src = [int(CHANGE_BATCH * share) for _, share in SOURCE_SHARES]
    for _ in range(n_batches):
        rows = []
        touched: set[int] = set()

        def row(event, source, db, aid, path=None, to_db=None, to_aid=None):
            nonlocal seq
            seq += 1
            return (seq, event, source, db, aid, None, None, path, to_db, to_aid)

        for f in rng.choice(len(files), n_src[0], replace=False):
            db, aid, fk = files[f]
            rows.append(row("MODIFY", "files", db, aid, fk))
        for f in rng.choice(len(files), n_src[1], replace=False):
            db, aid, fk = files[f]
            rows.append(row("MODIFY", "metadata", db, aid, fk))
        reinserts = [pk for pk in removed[:10]]
        removed = removed[len(reinserts):]
        for pk in reinserts:
            touched.add(pk)
            rows.append(row("INSERT", "assets", *_asset_key(pk)))
        while len(rows) < sum(n_src[:3]):
            pk = int(rng.integers(N_PART))
            if pk in touched or pk in removed:
                continue
            touched.add(pk)
            if rng.random() < 0.25:
                removed.append(pk)
                rows.append(row("REMOVE", "assets", *_asset_key(pk)))
            else:
                rows.append(row("MODIFY", "assets", *_asset_key(pk)))
        while len(rows) < CHANGE_BATCH:
            # existing edges: even part keys link to p % 50 + 1 or p - 6
            pk = 2 * int(rng.integers(1, N_PART // 2))
            to = (48 if pk == 6 else pk - 6) if pk % 6 == 0 else pk % 50 + 1
            if to in removed or pk in removed:
                continue
            rows.append(row("MODIFY", "asset_links", *_asset_key(pk), None, *_asset_key(to)))
        yield rows


# ---------------------------------------------------------------------------
# corpus_build: document batches
# ---------------------------------------------------------------------------

DOC_BATCH = 1000


def doc_batches(seed: int, n_batches: int, base: list[str]):
    """Yield ``n_batches`` batches of ``DOC_BATCH`` (doc_id, text) rows
    derived from ``base``, the fixture's document texts: 20% exact copies, 30% near
    duplicates (about 5% of words replaced) and 50% word-shuffled
    rewrites. Ids increase across batches, so a streamed build and a
    one-shot build over the same prefix see the same arrival order."""
    rng = _rng(seed, "corpus")
    next_id = 1_000_000
    for _ in range(n_batches):
        batch = []
        for _ in range(DOC_BATCH):
            src = base[int(rng.integers(len(base)))]
            r = rng.random()
            if r < 0.2:
                text = src
            elif r < 0.5:
                words = src.split()
                for i in np.flatnonzero(rng.random(len(words)) < 0.05):
                    words[i] = str(rng.choice(VOCAB))
                text = " ".join(words)
            else:
                words = src.split()
                text = " ".join(words[i] for i in rng.permutation(len(words)))
            batch.append((next_id, text))
            next_id += 1
        yield batch
