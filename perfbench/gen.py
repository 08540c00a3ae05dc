"""Seeded input generators for the benchmark.

corpus(): the TPC-H-ish star schema plus `events`, `documents` and
`embeddings`, in the column names, types and value domains the catalog
queries are written against. The corpus is the same for every run (its
own fixed seed), so catalog timings compare across seeds; the workload
seed only orders the operations within each pass.

crawl_spec(): the loopback site's pages and the crawl batches, drawn from
the workload seed. The spec, not the program's extractors, is what the
crawl check holds the sinks to.
"""
import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.15, 0.14, 0.13, 0.14]


def _days(rng, n, start, end):
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _write(out, name, table):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   compression="snappy", row_group_size=1 << 30)


def corpus(out, sf):
    """Write the ten corpus tables at scale factor `sf` into `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(CORPUS_SEED)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = int(50_000 * sf), max(500, int(20_000 * sf))
    n_users = int(15_000 * sf)

    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    _write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]}))
    _write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}))
    _write(out, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)}))
    _write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(_days(rng, n_ord, dt.date(1995, 1, 1),
                                      dt.date(2001, 8, 1)), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]}))
    _write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_days(rng, n_line, dt.date(1995, 1, 2),
                                     dt.date(2001, 11, 4)), pa.timestamp("us"))}))
    secs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_ev))
    _write(out, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + secs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]}))
    # 5% of documents are near-duplicates (an earlier text plus " dup"),
    # so the dedup operators have pairs to find
    texts = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    _write(out, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 0.12, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.08, (n_vec, 64))).astype(np.float32)
    _write(out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}))


# ---- crawl site -------------------------------------------------------

BATCHES = 3          # per pass; the last one holds the poison code
# A batch is one 200-code slice, the reference crawler's chunk size. It
# holds one repeated code and two junk entries, so 197 distinct pages.
# Every batch has the same make-up, so a batch's work does not depend on
# the seed; the seed picks codes, keys, texts and their order. The page
# mix and the key pools are invented: no source gives them.
BATCH_CODES = 200
BATCH_KINDS = {"cpt": 115, "hcpcs": 42, "deleted": 16, "deleted_hcpcs": 16, "missing": 8}
TRANSIENT_PER_BATCH = 25  # pages that answer 503 on their first request of a pass
# The last batch is the short remainder slice of a code list that is not a
# multiple of 200: 20 codes, the same mix scaled down, one CPT page
# replaced by the poison code. It fails every pass, so a short one keeps
# the run's time for the batches that succeed.
LAST_BATCH_CODES = 20
LAST_BATCH_KINDS = {"cpt": 10, "hcpcs": 3, "deleted": 2, "deleted_hcpcs": 1, "missing": 1}
TRANSIENT_LAST_BATCH = 2
MOD_POOL = 300       # modifier keys shared across pages, so dedup drops rows
NDC_POOL = 1000
ALNUM = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ"


def _modifier(i):
    return (ALNUM[i // 36] + ALNUM[i % 36],
            f"Modifier {i} " + " ".join(WORDS[(i * j) % len(WORDS)] for j in range(3, 9)))


def _ndc(i):
    return (f"{10000 + i * 37:05d}-{(i * 13) % 1000:03d}-{i % 100:02d}",
            f"Drug{i}", f"Labeler {i % 23}", f"{(i % 9) + 1}0 ML", ("ML", "EA", "GM")[i % 3])


def _filler(rng, n):
    return " ".join(rng.choice(WORDS) for _ in range(n))


def crawl_spec(seed):
    """Pages and batches for one run. Returns a dict with `pages`
    (code -> page spec), `batches` (lists of raw code strings, in pass
    order, poison batch last) and `poison` (the code that never answers)."""
    rng = random.Random(seed)
    used, pages = set(), {}

    def new_code(kind):
        while True:
            if kind in ("hcpcs", "deleted_hcpcs"):
                c = rng.choice("ABEGJL") + f"{rng.randrange(10000):04d}"
            elif rng.random() < 0.3:
                c = f"{rng.randrange(10000):04d}" + rng.choice("TU")
            else:
                c = f"{rng.randrange(10000, 100000):05d}"
            if c not in used:
                used.add(c)
                return c

    batches = []
    for b in range(BATCHES):
        last = b == BATCHES - 1
        kinds = [k for k, n in (LAST_BATCH_KINDS if last else BATCH_KINDS).items()
                 for _ in range(n)]
        if last:
            kinds.remove("cpt")  # the poison code takes its place
        n_full = sum(k in ("cpt", "hcpcs") for k in kinds)
        # per full page: modifier rows 0-5, NDC rows 0-4, 150-1500 filler words
        n_mods = rng.sample([i % 6 for i in range(n_full)], n_full)
        n_ndc = rng.sample([i % 5 for i in range(n_full)], n_full)
        n_fill = rng.sample([150 + (1350 * i) // max(1, n_full - 1) for i in range(n_full)], n_full)
        transient = set(rng.sample(range(len(kinds)),
                                   TRANSIENT_LAST_BATCH if last else TRANSIENT_PER_BATCH))
        codes = []
        for i, kind in enumerate(kinds):
            code = new_code(kind)
            spec = {"kind": kind, "transient": i in transient}
            if kind in ("cpt", "hcpcs"):
                j = len([c for c in codes if pages[c]["kind"] in ("cpt", "hcpcs")])
                spec["short"] = f"Procedure {code} " + _filler(rng, 3)
                spec["long"] = "Long descriptor " + _filler(rng, 12)
                spec["mods"] = [_modifier(m) for m in rng.sample(range(MOD_POOL), n_mods[j])]
                spec["ndc"] = [_ndc(m) for m in rng.sample(range(NDC_POOL), n_ndc[j])]
                spec["filler"] = _filler(rng, n_fill[j])
            elif kind == "deleted":
                spec["date"] = f"Deleted on {rng.randint(1, 28):02d}/{rng.randint(1, 12):02d}/20{rng.randint(10, 23)}"
                spec["advice"] = "Use the replacement code " + _filler(rng, 4)
                spec["desc"] = "Former descriptor " + _filler(rng, 8)
            pages[code] = spec
            codes.append(code)
        if last:
            poison = new_code("cpt")
            pages[poison] = {"kind": "poison", "transient": False}
            codes.insert(rng.randrange(len(codes) + 1), poison)
        # one repeated code and two junk entries per batch: the frontier
        # collapses the repeat and the cleaner drops the junk
        codes = codes + [codes[0], "  ", "false"]
        assert len(codes) == (LAST_BATCH_CODES if last else BATCH_CODES)
        rng.shuffle(codes)
        batches.append(codes)
    order = list(range(BATCHES - 1))
    rng.shuffle(order)
    return {"pages": pages, "batches": [batches[i] for i in order] + [batches[-1]],
            "poison": poison}


def code_type(code):
    return "HCPCS" if len(code) == 5 and code[0].isalpha() and code[1:].isdigit() else "CPT"


def page_html(code, spec):
    """(status, html) the site serves for a page spec; one line, no tabs."""
    kind = spec["kind"]
    if kind == "missing":
        return 404, '<html><body><div class="container404">Page not found</div></body></html>'
    if kind == "deleted_hcpcs":
        return 200, f"<html><body><h1>Deleted HCPCS Codes</h1><p>{code} was removed.</p></body></html>"
    if kind == "deleted":
        return 200, ("<html><body>"
                     f'<div class="code-head"><h1>{code}</h1><span class="badge">Deleted</span></div>'
                     f'<div class="alert alert-danger">{spec["date"]}</div>'
                     f'<div class="advice-box"><b>Advice:</b><p>{spec["advice"]}</p></div>'
                     '<div class="panel panel-default"><div class="panel-heading">Code Descriptor</div>'
                     f'<div class="panel-body tab-pane">{spec["desc"]}</div></div>'
                     "</body></html>")
    if kind == "poison":
        return 500, "upstream error"
    rng_range = "A0021-A0999" if code_type(code) == "HCPCS" else "0001U-0418U"
    mods = "".join(f"<tr><td>{m}</td><td>{d}</td></tr>" for m, d in spec["mods"])
    ndc = "".join("<tr>" + "".join(f"<td>{f}</td>" for f in row) + "</tr>" for row in spec["ndc"])
    return 200, ("<html><body>"
                 f'<div class="newbread"><a href="/codes-range/{rng_range}/">Range {rng_range}</a></div>'
                 f'<div class="layout2_code"><h1>{code}, {spec["short"]}</h1></div>'
                 f'<div class="sub_head_detail">{spec["long"]}</div>'
                 + (f'<div class="modcross_list"><table><tbody>{mods}</tbody></table></div>' if mods else "")
                 + (f'<div id="ndc"><table>{ndc}</table></div>' if ndc else "")
                 + f'<div id="cpt_report"><p>{spec["filler"]}</p></div>'
                 "</body></html>")


def write_site(path, spec):
    """One line per page: code, kind, transient flag, status, modifier
    rows, NDC rows, html (tab-separated), then one `batch` line per batch."""
    with open(path, "w") as f:
        for code, s in spec["pages"].items():
            status, html = page_html(code, s)
            f.write("\t".join(["page", code, s["kind"], "1" if s["transient"] else "0",
                               str(status), str(len(s.get("mods", []))),
                               str(len(s.get("ndc", []))), html]) + "\n")
        for codes in spec["batches"]:
            f.write("\t".join(["batch"] + codes) + "\n")
