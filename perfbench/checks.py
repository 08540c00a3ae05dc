"""Output checks. Each marks the operations it finds wrong with
`check_failed` and returns a list of problem descriptions.

check_catalog: every catalog result (written by the first set-up's
warm-up pass) against DuckDB running the query's own oracle SQL over the
same parquet files, compared row-order-free: columns sorted by name,
rows sorted, exact values, matching dtype kinds.

check_crawl: every batch's appended sink files against rows derived from
the page generator's spec (not from the program's extractors), and the
site's counters of each successful batch against the retry and re-login
paths the spec forces.
"""
import collections
import os
import sys
import time

import gen

TABLES = ["lineitem", "orders", "customer", "supplier", "part", "nation",
          "region", "events", "documents", "embeddings"]


def compare_frames(want, got):
    """None when equal as row multisets, else a description."""
    w = want.reindex(sorted(want.columns), axis=1)
    g = got.reindex(sorted(got.columns), axis=1)
    if list(w.columns) != list(g.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(w) != len(g):
        return f"rows {len(g)} != {len(w)}"
    kinds = [c for c in w.columns if w[c].dtype.kind != g[c].dtype.kind]
    if kinds:
        return f"dtype kinds differ in {kinds}"
    ws = w.sort_values(list(w.columns)).reset_index(drop=True)
    gs = g.sort_values(list(g.columns)).reset_index(drop=True)
    for c in w.columns:
        a, b = ws[c], gs[c]
        try:
            eq = (a.isna() & b.isna()) | (a == b)
        except Exception:
            eq = a.astype(str) == b.astype(str)
        if not eq.all():
            i = (~eq).idxmax()
            return f"column {c}: {int((~eq).sum())} values differ, e.g. {a[i]!r} != {b[i]!r}"
    return None


def check_catalog(raw, corpus, threads):
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.sql(f"SET threads={threads}")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
    first = {o["op"]: o for o in raw["ops"] if o["phase"] == "setup1"}
    problems = []
    for name, sql in sorted(raw["extra"]["oracle"].items()):
        op = first.get(name)
        if op is None or not op["ok"]:
            continue  # already counted as a failed operation
        t0 = time.perf_counter()
        try:
            err = compare_frames(con.sql(sql).df(),
                                 pd.read_parquet(os.path.join(raw["extra"]["results"], name)))
        except Exception as e:  # an oracle or read error is a failed check too
            err = f"{type(e).__name__}: {e}"
        print(f"perfbench: oracle check {name} {time.perf_counter() - t0:.2f} s", file=sys.stderr)
        if err:
            op["check_failed"] = True
            problems.append(f"{name}: {err}")
    return problems


def _rows(files, cols):
    import pyarrow.parquet as pq
    out = []
    for f in files:
        t = pq.read_table(f, columns=cols).to_pylist()
        out += [tuple(r[c] for c in cols) for r in t]
    return out


def _expected_code_row(code, s):
    if s["kind"] == "deleted":
        return (code, gen.code_type(code), None, None, None, None,
                s["date"], s["desc"], s["advice"])
    mods = [m for m, _ in s["mods"]] or None
    ndc = [r[0] for r in s["ndc"]] or None
    return (code, gen.code_type(code), s["short"], s["long"], mods, ndc, None, None, None)


CODE_COLS = ["code", "code_type", "short_description", "long_description",
             "modifiers", "ndc_alternate_id", "date_deleted", "description", "advice"]
NDC_COLS = ["ndc_alternate_id", "drug_name", "labeler_name", "hcpcs_dosage", "bill_unit"]


def _freeze(row):
    return tuple(tuple(v) if isinstance(v, list) else v for v in row)


def check_crawl(raw, spec):
    pages = spec["pages"]
    problems = []
    by_pass = collections.defaultdict(list)
    for o in raw["ops"]:
        by_pass[o["pass"]].append(o)
    for p, ops in sorted(by_pass.items()):
        mod_keys, ndc_keys = set(), set()  # the sinks' keys before each batch
        for o in ops:
            good = [c for c in dict.fromkeys(o["codes"])
                    if c in pages and pages[c]["kind"] in ("cpt", "hcpcs", "deleted")]
            files = o["files"]
            got_codes = _rows(files.get("codes", []), CODE_COLS)
            got_mods = _rows(files.get("modifiers", []), ["modifier", "description"])
            got_ndc = _rows(files.get("ndc", []), NDC_COLS)
            full = [pages[c] for c in good if pages[c]["kind"] != "deleted"]
            errs = []
            if o["ok"]:
                want_codes = [_expected_code_row(c, pages[c]) for c in good]
                want_mods = [r for s in full for r in s["mods"] if r[0] not in mod_keys]
                want_ndc = [r for s in full for r in s["ndc"] if r[0] not in ndc_keys]
                for what, want, got in [("codes", want_codes, got_codes),
                                        ("modifiers", want_mods, got_mods),
                                        ("ndc", want_ndc, got_ndc)]:
                    if collections.Counter(map(_freeze, want)) != collections.Counter(map(_freeze, got)):
                        errs.append(f"{what}: {len(got)} rows written, {len(want)} expected")
                if o["rows"] != [len(got_codes), len(got_mods), len(got_ndc)]:
                    errs.append(f"reported counts {o['rows']} != rows in the sinks")
                # the retry path ran once for every transient page of the
                # batch, and the re-login path ran after every 401
                srv = o["server"]
                transient = sum(1 for c in dict.fromkeys(o["codes"])
                                if c in pages and pages[c]["transient"])
                if srv["transient_503"] != transient:
                    errs.append(f"{srv['transient_503']} transient 503s served, {transient} expected")
                if srv["relogins"] < 1 or srv["relogins"] != srv["expired_401"]:
                    errs.append(f"{srv['relogins']} re-logins after {srv['expired_401']} 401s")
            elif got_codes or got_mods or got_ndc:
                errs.append("a failed batch left rows in the sinks")
            mod_keys |= {r[0] for r in got_mods}
            ndc_keys |= {r[0] for r in got_ndc}
            if errs:
                o["check_failed"] = True
                problems += [f"pass {p} {o['op']}: {e}" for e in errs]
    return problems
