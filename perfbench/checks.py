"""Output checks against independent references.

The references never call the library: routing, parsing and aggregates are
recomputed with DuckDB SQL over the staged parquet, the curation chain with
DuckDB plus plain Python.  Each check returns a list of mismatch strings;
an empty list means the output is correct.  All checks run outside the
timed regions.
"""

from __future__ import annotations

import hashlib
import re

import duckdb

# percentile_approx's default accuracy is 10000: rank error <= n / 10000
_APPROX_RANK_TOL = 1e-4


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    return con


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


# -- routing ---------------------------------------------------------------------
def routed_sql(src: str, steps: list[dict]) -> str:
    """SQL with one row per (input row, delivery) and a ``sink`` column.

    Semantics of a pipeline of match / forward / drop steps: a step fires on
    rows that are still active and match; ``forward`` delivers the row to
    each named sink once per naming step, ``drop`` deactivates it for later
    steps.  A forward that fired before a drop has already delivered."""
    parts = []
    dropped_before: list[str] = []
    for step in steps:
        match = step.get("match") or {}
        cond = " AND ".join(f"regexp_matches({k}, {_q(v)})" for k, v in match.items()) or "TRUE"
        active = " AND ".join(f"NOT ({d})" for d in dropped_before) or "TRUE"
        for sink in step.get("forward", []):
            parts.append(f"SELECT *, {_q(sink)} AS sink FROM {src} WHERE ({active}) AND ({cond})")
        if step.get("drop"):
            dropped_before.append(cond)
    return " UNION ALL ".join(parts)


def parsed_sql(src: str, patterns: list[tuple[str, str, list[str]]],
               str_fields: tuple[str, ...] = ()) -> str:
    """First-match-wins parse: ``pattern_name`` plus one BIGINT column per
    integer capture and one VARCHAR column per name in ``str_fields`` (NULL
    where the winning pattern lacks the capture)."""
    names = " ".join(f"WHEN regexp_matches(text, {_q(p)}) THEN {_q(n)}" for n, p, _ in patterns)
    int_fields = sorted({g for _, _, gs in patterns for g in gs})
    cols = []
    for g in int_fields + list(str_fields):
        whens = []
        for n, p, gs in patterns:
            idx = re.compile(p).groupindex.get(g)
            if idx is None:
                continue
            raw = f"regexp_extract(text, {_q(p)}, {idx})"
            val = raw if g in str_fields else f"TRY_CAST(NULLIF({raw}, '') AS BIGINT)"
            whens.append(f"WHEN pattern_name = {_q(n)} THEN {val}")
        cols.append(f"CASE {' '.join(whens)} END AS {g}")
    sel = ", ".join(["*"] + cols)
    return (f"SELECT {sel} FROM (SELECT *, CASE {names} END AS pattern_name FROM {src})")


def digest_sql(src: str, int_fields: list[str], by: list[str]) -> str:
    sums = ", ".join(f"sum({g})::HUGEINT AS sum_{g}" for g in int_fields)
    keys = ", ".join(by)
    return (f"SELECT {keys}, count(*) AS n, sum(hash(conv_id, turn_idx))::HUGEINT AS h"
            f"{', ' + sums if sums else ''} FROM {src} GROUP BY {keys}")


def rows_to_dict(rows, n_keys: int) -> dict:
    return {tuple(r[:n_keys]): tuple(int(x) if x is not None else None for x in r[n_keys:])
            for r in rows}


def compare(name: str, got: dict, want: dict) -> list[str]:
    errs = []
    for k in sorted(set(got) | set(want), key=repr):
        if got.get(k) != want.get(k):
            errs.append(f"{name}{list(k)}: got {got.get(k)} want {want.get(k)}")
    return errs[:20]


def routed_parse_reference(con, input_glob: str, steps, patterns) -> dict:
    """(sink, pattern_name) -> (rows, hash sum, integer-capture sums)."""
    int_fields = sorted({g for _, _, gs in patterns for g in gs})
    src = f"read_parquet({_q(input_glob)})"
    sql = digest_sql(f"({routed_sql(f'({parsed_sql(src, patterns)})', steps)})",
                     int_fields, ["sink", "pattern_name"])
    return rows_to_dict(con.execute(sql).fetchall(), 2)


def written_digest(con, out_glob: str, patterns) -> dict:
    """The same digest over parquet sink output laid out as
    ``.../sink=<s>/.../*.parquet`` (hive partitions)."""
    int_fields = sorted({g for _, _, gs in patterns for g in gs})
    casts = ", ".join(f"{g}::BIGINT AS {g}" for g in int_fields)
    src = (f"(SELECT sink, pattern_name, conv_id, turn_idx{', ' + casts if casts else ''} "
           f"FROM read_parquet({_q(out_glob)}, hive_partitioning=true))")
    return rows_to_dict(con.execute(digest_sql(src, int_fields, ["sink", "pattern_name"])).fetchall(), 2)


def delivery_reference(con, input_glob: str, steps) -> dict:
    """sink -> (rows, hash sum) for one input."""
    src = f"read_parquet({_q(input_glob)})"
    sql = digest_sql(f"({routed_sql(src, steps)})", [], ["sink"])
    return rows_to_dict(con.execute(sql).fetchall(), 1)


def check_parse_counts(con, input_glob: str, patterns, got: dict) -> list[str]:
    """``got``: pattern_name -> (rows, integer-capture sums...) in sorted
    capture order, as produced by the benchmark's counter sink."""
    int_fields = sorted({g for _, _, gs in patterns for g in gs})
    sums = ", ".join(f"sum({g})::HUGEINT" for g in int_fields)
    src = f"read_parquet({_q(input_glob)})"
    rows = con.execute(f"SELECT pattern_name, count(*), {sums} FROM ({parsed_sql(src, patterns)}) "
                       f"GROUP BY pattern_name").fetchall()
    return compare("parse", got, rows_to_dict(rows, 1))


# -- aggregates --------------------------------------------------------------------
def check_aggregates(con, input_glob: str, patterns, got: dict) -> list[str]:
    """``got`` keys: turns_per_role, tool_invocations, events_per_minute
    (lists of (key, count)) and timer_percentiles (level, n, avg, p50, p90,
    p99) over ``duration_ms`` of the parse."""
    src = f"read_parquet({_q(input_glob)})"
    errs = []
    want = dict(con.execute(f"SELECT role, count(*) FROM {src} GROUP BY 1").fetchall())
    errs += compare("turns_per_role", {(k,): (v,) for k, v in got["turns_per_role"]},
                    {(k,): (v,) for k, v in want.items()})
    want = dict(con.execute(f"SELECT tool, count(*) FROM {src} WHERE tool IS NOT NULL "
                            "GROUP BY 1").fetchall())
    errs += compare("tool_invocations", {(k,): (v,) for k, v in got["tool_invocations"]},
                    {(k,): (v,) for k, v in want.items()})
    want = dict(con.execute(f"SELECT epoch(date_trunc('minute', ts))::BIGINT, count(*) FROM {src} "
                            "GROUP BY 1").fetchall())
    errs += compare("events_per_minute", {(k,): (v,) for k, v in got["events_per_minute"]},
                    {(k,): (v,) for k, v in want.items()})
    parsed = parsed_sql(src, patterns, str_fields=("level",))
    con.execute(f"CREATE OR REPLACE TEMP TABLE _timer AS SELECT level, duration_ms AS v "
                f"FROM ({parsed}) WHERE duration_ms IS NOT NULL AND level IS NOT NULL")
    ref = {r[0]: (r[1], r[2]) for r in con.execute(
        "SELECT level, count(*), round(avg(v), 6) FROM _timer GROUP BY 1").fetchall()}
    got_levels = {r[0] for r in got["timer_percentiles"]}
    if got_levels != set(ref):
        errs.append(f"timer_percentiles levels: got {sorted(got_levels)} want {sorted(ref)}")
    for level, n, avg_v, *ps in got["timer_percentiles"]:
        if level not in ref:
            continue
        if (n, round(avg_v, 6)) != (ref[level][0], round(ref[level][1], 6)):
            errs.append(f"timer_percentiles[{level}]: n/avg {n}/{avg_v} want {ref[level]}")
        for q, p in zip((0.5, 0.9, 0.99), ps):
            lt, le = con.execute("SELECT count(*) FILTER (WHERE v < ?), count(*) FILTER (WHERE v <= ?) "
                                 "FROM _timer WHERE level = ?", [p, p, level]).fetchone()
            tol = _APPROX_RANK_TOL * n + 1
            if not (lt - tol <= q * n <= le + tol):
                errs.append(f"timer_percentiles[{level}] p{int(q * 100)}={p}: rank [{lt},{le}] "
                            f"misses {q * n:.1f}")
    return errs


# -- incremental deliveries ----------------------------------------------------------
def check_incremental(con, out_dir: str, deltas: list[tuple[str, str, dict]], steps,
                      sinks: list[str]) -> list[list[str]]:
    """One error list per delta.  ``deltas``: (snapshot id, delta file,
    sink -> rows the runner reported).  Each committed delta must appear
    exactly once per sink, with exactly its routed rows and no row twice."""
    glob_ = f"{out_dir}/sink=*/ingest=*/**/*.parquet"
    rows = con.execute(
        f"SELECT sink, ingest, count(*), sum(hash(conv_id, turn_idx))::HUGEINT, "
        f"count(DISTINCT (conv_id, turn_idx)) "
        f"FROM read_parquet({_q(glob_)}, hive_partitioning=true) GROUP BY 1, 2").fetchall()
    got = {(s, i): (int(n), int(h), int(d)) for s, i, n, h, d in rows}
    seen = {i for _, i in got}
    out = []
    for snap, path, written in deltas:
        errs = []
        want = delivery_reference(con, path, steps)
        for sink in sinks:
            w = want.get((sink,), (0, 0))
            g = got.get((sink, snap))
            if g is None:
                if w[0]:
                    errs.append(f"{snap} sink={sink}: no committed output, want {w[0]} rows")
                continue
            if (g[0], g[1]) != (int(w[0]), int(w[1])):
                errs.append(f"{snap} sink={sink}: rows/hash {g[:2]} want {w}")
            if g[2] != g[0]:
                errs.append(f"{snap} sink={sink}: {g[0] - g[2]} rows delivered twice")
            if written.get(sink) != g[0]:
                errs.append(f"{snap} sink={sink}: runner reported {written.get(sink)}, wrote {g[0]}")
        if snap not in seen and any(want.values()):
            errs.append(f"{snap}: missing")
        out.append(errs)
    extra = seen - {d[0] for d in deltas}
    if extra:
        out.append([f"unexpected ingest dirs: {sorted(extra)[:5]}"])
    return out


# -- curation ------------------------------------------------------------------------
_RX_PUNCT = re.compile(r"[^A-Za-z0-9\s]+", re.ASCII)
_RX_WS = re.compile(r"\s+", re.ASCII)


def tokens(text: str) -> list[str]:
    return [w for w in _RX_WS.split(_RX_PUNCT.sub(" ", text).lower()) if w]


def grams(text: str, n: int) -> set[str]:
    toks = tokens(text)
    return {" ".join(toks[i:i + n]) for i in range(max(len(toks) - n + 1, 1))}


def jaccard(a: set, b: set) -> float:
    return round(len(a & b) / max(len(a | b), 1), 6)


def md5_pct(doc_id: int) -> int:
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 100


def curation_deduped(con, train_glob: str) -> dict[int, tuple[str, str, float]]:
    """doc_id -> (text, lang, q_score) after the quality cutoff (median
    English-stopword score, ties kept) and exact dedup (min id per
    normalized md5 fingerprint)."""
    rows = con.execute(f"""
        WITH scored AS (
          SELECT doc_id, text, lang,
                 round(len(regexp_extract_all(text, '(?i)\\b(the|and|of|to|in|is|a|that|it|for)\\b'))
                       * 1.0 / greatest(len(regexp_extract_all(text, '\\S+')), 1), 6) AS q
          FROM read_parquet({_q(train_glob)})),
        kept AS (SELECT * FROM scored WHERE q >= (SELECT quantile_disc(q, 0.5) FROM scored))
        SELECT doc_id, text, lang, q FROM kept
        QUALIFY row_number() OVER (
          PARTITION BY md5(lower(regexp_replace(text, '[^A-Za-z0-9]+', '', 'g'))) ORDER BY doc_id) = 1
    """).fetchall()
    return {int(d): (t, lg, float(q)) for d, t, lg, q in rows}


def check_pairs(deduped: dict, pairs: list[tuple[int, int, float]], truth: dict,
                threshold: float, k: int = 3) -> list[str]:
    """Every reported pair is a deduped pair with exact Jaccard >= threshold;
    every planted near-duplicate pair whose documents both reach this stage
    is reported."""
    errs = []
    sh: dict[int, set] = {}

    def shingles(d: int) -> set:
        if d not in sh:
            sh[d] = grams(deduped[d][0], k)
        return sh[d]

    seen = set()
    for a, b, j in pairs:
        if a >= b or a not in deduped or b not in deduped:
            errs.append(f"pair ({a},{b}): not an ordered pair of deduped docs")
            continue
        if (a, b) in seen:
            errs.append(f"pair ({a},{b}) reported twice")
        seen.add((a, b))
        exact = jaccard(shingles(a), shingles(b))
        if exact < threshold or abs(exact - j) > 1e-6:
            errs.append(f"pair ({a},{b}): reported J={j}, exact {exact}")
    for members in truth["near_clusters"]:
        live = sorted(m for m in members if m in deduped)
        for i, a in enumerate(live):
            for b in live[i + 1:]:
                if (a, b) not in seen:
                    errs.append(f"planted near-duplicate pair ({a},{b}) not found")
    return errs[:20]


def curation_expected(deduped: dict, pairs: list[tuple[int, int, float]], bench_texts: list[str],
                      fractions: dict[str, float], n: int = 5) -> tuple[dict, int]:
    """(doc_id -> (lang, q_score) of the curated mix, contaminated count).

    Drops the higher id of each reported pair, then every document sharing a
    word ``n``-gram with the bench slice, then samples each language by the
    md5 percentile of its doc id."""
    drop = {b for _, b, _ in pairs}
    survivors = {d: v for d, v in deduped.items() if d not in drop}
    bench_grams: set[str] = set()
    for t in bench_texts:
        bench_grams |= grams(t, n)
    contaminated = {d for d, (t, _, _) in survivors.items() if grams(t, n) & bench_grams}
    out = {}
    for d, (_t, lang, q) in survivors.items():
        if d in contaminated or lang not in fractions:
            continue
        if md5_pct(d) < int(fractions[lang] * 100):
            out[d] = (lang, q)
    return out, len(contaminated)


def check_curated(got: list[tuple[int, str, float]], want: dict) -> list[str]:
    errs = []
    g = {int(d): (lang, float(q)) for d, lang, q in got}
    if len(g) != len(got):
        errs.append(f"curated output has {len(got) - len(g)} duplicate doc ids")
    missing = sorted(set(want) - set(g))
    extra = sorted(set(g) - set(want))
    if missing:
        errs.append(f"curated: {len(missing)} docs missing, e.g. {missing[:5]}")
    if extra:
        errs.append(f"curated: {len(extra)} unexpected docs, e.g. {extra[:5]}")
    for d in set(g) & set(want):
        if g[d][0] != want[d][0] or abs(g[d][1] - want[d][1]) > 1e-9:
            errs.append(f"curated doc {d}: got {g[d]} want {want[d]}")
            break
    return errs
