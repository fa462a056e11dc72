"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes. Nothing here reads the repository's program code; the program
only ever sees the files written here.

- ``tables``: the star schema plus ``documents``/``embeddings``/``events``,
  shaped like the engine's oracle fixtures (same columns, types, domains
  and planted near-duplicates) at a chosen scale factor.
- ``pages``: several "days" of listing pages (``page-N.html``), one
  region-run per region a day, and the expected ``link -> latest price``
  state after every day is merged.
- ``ingest``: a document corpus with an embedding per document, plus the
  ``embeddings`` table the frozen quantizer is derived from.
"""
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DIM = 64


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _ts(rng, n, start, days):
    base = np.datetime64(start, "us").astype(np.int64)
    return np.sort(base + rng.integers(0, days * 86_400_000_000, n)).astype("datetime64[us]")


def _dates(rng, n, start, days):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, days, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _docs(rng, n):
    """(doc_id, text, lang, source, n_chars) with the fixtures' shape: 10-100
    words from a 31-word vocabulary, 5% planted near-duplicates (an earlier
    doc's text plus `` dup``) and a few exact copies."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, 30, k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _vectors(rng, n, labels):
    """Unit-norm float32 vectors, weakly clustered by label."""
    centers = rng.normal(0, 0.6 / math.sqrt(DIM), (10, DIM))
    v = centers[labels] + rng.normal(0, 1 / math.sqrt(DIM), (n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def _embeddings(rng, n):
    labels = rng.integers(0, 10, n).astype(np.int32)
    v = _vectors(rng, n, labels)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": labels,
    })


def tables(out, seed, sf):
    """The ten oracle tables at scale factor ``sf`` (row counts follow the
    fixtures' ratios: lineitem ~6M x sf, documents 50k x sf)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_ord, n_part, n_supp = (int(x * sf) for x in (150_000, 1_500_000, 200_000, 10_000))
    n_docs, n_emb, n_ev = int(50_000 * sf), max(500, int(20_000 * sf)), int(1_000_000 * sf)
    _write(pa.table({"r_regionkey": np.arange(5, dtype=np.int32),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": np.arange(25, dtype=np.int32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
           f"{out}/nation.parquet")
    ck = np.arange(n_cust, dtype=np.int64)
    _write(pa.table({"c_custkey": ck, "c_name": [f"Customer#{i:09d}" for i in ck],
                     "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                     "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                     "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                                                 "FURNITURE"], n_cust)}),
           f"{out}/customer.parquet")
    sk = np.arange(n_supp, dtype=np.int64)
    _write(pa.table({"s_suppkey": sk, "s_name": [f"Supplier#{i:09d}" for i in sk],
                     "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                     "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
           f"{out}/supplier.parquet")
    pk = np.arange(n_part, dtype=np.int64)
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    _write(pa.table({"p_partkey": pk,
                     "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                                zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
                     "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                     "p_type": rng.choice(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"],
                                          n_part),
                     "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                     "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)}),
           f"{out}/part.parquet")
    ok = np.arange(n_ord, dtype=np.int64)
    _write(pa.table({"o_orderkey": ok, "o_custkey": rng.integers(0, n_cust, n_ord),
                     "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
                     "o_totalprice": _money(rng, 1000, 500_000, n_ord),
                     "o_orderdate": _dates(rng, n_ord, "1995-01-01", 2405),
                     "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                                    "5-LOW"], n_ord)}),
           f"{out}/orders.parquet")
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    _write(pa.table({"l_orderkey": np.repeat(ok, lines),
                     "l_partkey": rng.integers(0, n_part, n_li),
                     "l_suppkey": rng.integers(0, n_supp, n_li),
                     "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32),
                     "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                     "l_extendedprice": _money(rng, 900, 105_000, n_li),
                     "l_discount": rng.integers(0, 11, n_li) / 100,
                     "l_tax": rng.integers(0, 9, n_li) / 100,
                     "l_returnflag": rng.choice(["N", "R", "A"], n_li),
                     "l_linestatus": rng.choice(["F", "O"], n_li),
                     "l_shipdate": _dates(rng, n_li, "1995-01-02", 2499)}),
           f"{out}/lineitem.parquet")
    _write(pa.table({"event_id": np.arange(n_ev, dtype=np.int64),
                     "ts": _ts(rng, n_ev, "2024-01-01", 30),
                     "user_id": rng.integers(0, max(n_ev // 66, 20), n_ev),
                     "event_type": rng.choice(["signup", "purchase", "view", "click", "error"], n_ev),
                     "value": np.round(rng.exponential(50, n_ev), 2),
                     "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
           f"{out}/events.parquet")
    _write(_docs(rng, n_docs), f"{out}/documents.parquet")
    _write(_embeddings(rng, n_emb), f"{out}/embeddings.parquet")
    return {"sf": sf, "lineitem": n_li, "documents": n_docs, "embeddings": n_emb, "events": n_ev}


# ---- listing pages ---------------------------------------------------------

CARD = """<div class="card-featured__middle-section">
{head}
<div class="card-featured__middle-section__price"><strong>{price}</strong></div>
<span>{loc}</span>
<div class="card-featured__middle-section__header-badge">Rumah{badge}</div>
<span class="attribute-text">{bed}</span><span class="attribute-text">{bath}</span><span class="attribute-text">{car}</span>
<div class="attribute-info">LT : {lot} m²</div><div class="attribute-info">LB : {bld} m²</div>
</div></div>"""
# Six regions, as the reference config schedules six region-runs a day. The
# names and admin lists are this benchmark's own: each card's location names
# one of its region's admin areas, so the extract's admin match succeeds.
REGIONS = [
    ("jakarta", ["Jakarta Barat", "Jakarta Selatan"]),
    ("bogor", ["Bogor"]),
    ("depok", ["Depok"]),
    ("tangerang", ["Tangerang"]),
    ("bekasi", ["Bekasi"]),
    ("tangerang-selatan", ["Tangerang Selatan"]),
]
DISTRICTS = ["Kebon Jeruk", "Tebet", "Cilandak", "Menteng"]
BADGES = ["CarportGarasi", "Carport", "GarasiTaman", "KolamRenang"]


def _price(rng):
    """(rendered price, parsed rupiah) -- parsed exactly as the engine does:
    IEEE double of the decimal times the unit, rounded half up."""
    if rng.random() < 0.5:
        a, b = int(rng.integers(1, 10)), int(rng.integers(0, 10))
        return f"Rp {a},{b} Miliar", math.floor(float(f"{a}.{b}") * 1_000_000_000 + 0.5)
    j = int(rng.integers(100, 1000))
    return f"Rp {j} Juta", math.floor(float(j) * 1_000_000 + 0.5)


def pages(out, seed, days, pages_per_run, cards_per_page):
    """Write ``day<d>/<region>/page-<n>.html``: for each of ``days`` days, one
    region-run of ``pages_per_run`` pages per region. Writes ``regions.json``
    (name and admin list per region, in run order) and ``expected.json``, the
    expected main-table state after each day is merged, and returns the
    shares the seed chose.

    The seed draws three shares: in-run duplicate cards (a re-listed card
    keeps its first occurrence), cards without a link (dropped), and the
    cross-day overlap (cards re-scraped from an earlier day of the same
    region, i.e. updates rather than inserts)."""
    rng = np.random.default_rng([seed, 2])
    dup = float(rng.uniform(0.08, 0.12))
    nolink = float(rng.uniform(0.03, 0.05))
    overlap = float(rng.uniform(0.25, 0.35))
    state, expected, n_cards, next_id = {}, [], 0, 0
    seen = {name: [] for name, _ in REGIONS}
    for d in range(1, days + 1):
        for region, admins in REGIONS:
            cards, first = [], {}
            for _ in range(pages_per_run * cards_per_page):
                r = rng.random()
                if cards and r < dup:
                    cards.append(cards[int(rng.integers(0, len(cards)))])
                    continue
                if r < dup + nolink:
                    link = None
                elif seen[region] and rng.random() < overlap:
                    link = seen[region][int(rng.integers(0, len(seen[region])))]
                else:
                    link = f"/properti/{region}/h{next_id}/"
                    next_id += 1
                price, rupiah = _price(rng)
                loc = f"{DISTRICTS[int(rng.integers(0, 4))]}, {admins[int(rng.integers(0, len(admins)))]}"
                cards.append((link, f"Rumah {next_id} di {region}", price, rupiah, loc,
                              BADGES[int(rng.integers(0, 4))],
                              *(int(x) for x in rng.integers(1, 6, 3)),
                              int(rng.integers(60, 400)), int(rng.integers(40, 300))))
            for c in cards:
                if c[0] is not None and c[0] not in first:
                    first[c[0]] = c[3]
            for link, rupiah in first.items():
                key = "rumah123.com" + link
                if key not in state:
                    seen[region].append(link)
                state[key] = rupiah
            rdir = f"{out}/day{d}/{region}"
            os.makedirs(rdir, exist_ok=True)
            for p in range(pages_per_run):
                body = []
                for link, name, price, _, loc, badge, bed, bath, car, lot, bld in \
                        cards[p * cards_per_page:(p + 1) * cards_per_page]:
                    head = (f'<a href="{link}"><h2>{name}</h2></a>' if link
                            else f"<h2>{name}</h2>")
                    body.append(CARD.format(head=head, price=price, loc=loc, badge=badge, bed=bed,
                                            bath=bath, car=car, lot=lot, bld=bld))
                with open(f"{rdir}/page-{p + 1}.html", "w", encoding="utf-8") as f:
                    f.write("<html><body>\n" + "\n".join(body) + "\n</body></html>\n")
            n_cards += len(cards)
        expected.append(dict(state))
    with open(f"{out}/regions.json", "w") as f:
        json.dump([{"name": n, "admins": a} for n, a in REGIONS], f)
    with open(f"{out}/expected.json", "w") as f:
        json.dump(expected, f)
    return {"dup_share": dup, "nolink_share": nolink, "overlap_share": overlap,
            "cards": n_cards}


# ---- document ingest -------------------------------------------------------

def ingest(out, seed, docs):
    """Write ``batch.parquet`` (doc_id, source, text, embedding), a seeded
    ``docs``-document corpus in arrival (id) order, and
    ``embeddings.parquet`` (vec_id, embedding, label) for the quantizer."""
    rng = np.random.default_rng([seed, 3])
    corpus = _docs(rng, docs)
    labels = (np.arange(docs) % 10).astype(np.int32)
    vecs = _vectors(rng, docs, labels)
    _write(pa.table({"vec_id": corpus["doc_id"],
                     "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                     "label": labels}), f"{out}/embeddings.parquet")
    _write(pa.table({"doc_id": corpus["doc_id"], "source": corpus["source"],
                     "text": corpus["text"],
                     "embedding": pa.array(list(vecs), type=pa.list_(pa.float32()))}),
           f"{out}/batch.parquet")
    return {"docs": docs}
