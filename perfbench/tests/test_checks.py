"""The output checks flag corrupted outputs.

Correct outputs are built here from the references themselves (DuckDB
writes them in the layout the library's writers use); each test then
corrupts one and expects a mismatch.  No Spark session is needed.
"""

import glob
import os
import shutil

import pyarrow.parquet as pq
import pytest

import checks
import stage
from workloads import MIX, ROUTES, SINKS

PATTERNS = [
    ("applog", r"^(?P<level>DEBUG|INFO|WARN|ERROR) (?P<component>\w+): (?P<event>\w+) "
               r"took (?P<duration_ms>\d+)ms$", ["duration_ms"]),
    ("json", r'^\{"action": "(?P<action>\w+)", "status": "(?P<status>\w+)", '
             r'"latency_ms": (?P<latency_ms>\d+)\}$', ["latency_ms"]),
]


@pytest.fixture(scope="module")
def con():
    return checks.connect()


@pytest.fixture(scope="module")
def transcripts(tmp_path_factory):
    d = tmp_path_factory.mktemp("in")
    path = str(d / "t.parquet")
    pq.write_table(stage.transcripts(seed=3, n_turns=1_500), path)
    return path


def write_sinks(con, src_sql: str, out: str) -> None:
    """Hive-partitioned sink output (sink=<s>/bucket=<b>/*.parquet)."""
    con.execute(f"COPY (SELECT *, hash(conv_id) % 2 AS bucket FROM ({src_sql})) TO '{out}' "
                "(FORMAT parquet, PARTITION_BY (sink, bucket))")


def routed_output(con, transcripts, tmp_path, where="TRUE"):
    src = f"read_parquet('{transcripts}')"
    routed = checks.routed_sql(f"({checks.parsed_sql(src, PATTERNS)})", ROUTES)
    out = str(tmp_path / "out")
    write_sinks(con, f"SELECT * FROM ({routed}) WHERE {where}", out)
    return out


def digest(con, out):
    return checks.written_digest(con, os.path.join(out, "sink=*/**/*.parquet"), PATTERNS)


def test_routing_reference_multiplicity(con, transcripts):
    """ERROR lines reach errors and archive; DEBUG lines reach nothing."""
    ref = checks.delivery_reference(con, transcripts, ROUTES)
    n = dict(con.execute(
        f"SELECT left(text, 6), count(*) FROM read_parquet('{transcripts}') "
        "WHERE text LIKE 'ERROR %' OR text LIKE 'DEBUG %' GROUP BY 1").fetchall())
    total = con.execute(f"SELECT count(*) FROM read_parquet('{transcripts}')").fetchone()[0]
    assert ref[("errors",)][0] == n["ERROR "]
    assert ref[("archive",)][0] == total - n["DEBUG "]


def test_correct_output_passes(con, transcripts, tmp_path):
    out = routed_output(con, transcripts, tmp_path)
    want = checks.routed_parse_reference(con, transcripts, ROUTES, PATTERNS)
    assert checks.compare("routed", digest(con, out), want) == []


def test_dropped_rows_flagged(con, transcripts, tmp_path):
    out = routed_output(con, transcripts, tmp_path, where="turn_idx <> 1")
    want = checks.routed_parse_reference(con, transcripts, ROUTES, PATTERNS)
    assert checks.compare("routed", digest(con, out), want)


def test_doubled_sink_delivery_flagged(con, transcripts, tmp_path):
    out = routed_output(con, transcripts, tmp_path)
    victim = sorted(glob.glob(os.path.join(out, "sink=errors", "*", "*.parquet")))[0]
    shutil.copy(victim, victim.replace(".parquet", "_copy.parquet"))
    want = checks.routed_parse_reference(con, transcripts, ROUTES, PATTERNS)
    errs = checks.compare("routed", digest(con, out), want)
    assert errs and all("'errors'" in e for e in errs)


def test_parse_counts_flag_a_wrong_capture_sum(con, transcripts):
    src = f"read_parquet('{transcripts}')"
    rows = con.execute(f"SELECT pattern_name, count(*), sum(duration_ms)::HUGEINT, "
                       f"sum(latency_ms)::HUGEINT FROM ({checks.parsed_sql(src, PATTERNS)}) "
                       "GROUP BY 1").fetchall()
    got = checks.rows_to_dict(rows, 1)
    assert checks.check_parse_counts(con, transcripts, PATTERNS, got) == []
    n, dur, lat = got[("applog",)]
    got[("applog",)] = (n, dur + 1, lat)
    assert checks.check_parse_counts(con, transcripts, PATTERNS, got)


def test_incremental_duplicate_delivery_flagged(con, tmp_path):
    table = stage.transcripts(seed=5, n_turns=1_200, mega=False)
    deltas = []
    out = str(tmp_path / "out")
    for d, part in enumerate([table.slice(0, 600), table.slice(600)]):
        path = str(tmp_path / f"delta-{d}.parquet")
        pq.write_table(part, path)
        snap = f"inc_{d:012d}"
        routed = checks.routed_sql(f"read_parquet('{path}')", ROUTES)
        write_sinks(con, f"SELECT *, '{snap}' AS ingest FROM ({routed})",
                    str(tmp_path / "tmp"))
        for f in glob.glob(str(tmp_path / "tmp" / "sink=*" / "bucket=*" / "*.parquet")):
            rel = os.path.relpath(f, tmp_path / "tmp").split(os.sep)
            dst = os.path.join(out, rel[0], f"ingest={snap}", rel[1], rel[2])
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.move(f, dst)
        shutil.rmtree(tmp_path / "tmp")
        written = {s[0]: v[0] for s, v in checks.delivery_reference(con, path, ROUTES).items()}
        deltas.append((snap, path, written))
    per = checks.check_incremental(con, out, deltas, ROUTES, SINKS)
    assert per == [[], []]
    victim = sorted(glob.glob(os.path.join(out, "sink=archive", "ingest=inc_000000000001",
                                           "*", "*.parquet")))[0]
    shutil.copy(victim, victim.replace(".parquet", "_again.parquet"))
    per = checks.check_incremental(con, out, deltas, ROUTES, SINKS)
    assert per[0] == [] and any("twice" in e for e in per[1])


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    train, bench, truth = stage.corpus(seed=11, n_train=400, n_bench=40)
    pq.write_table(train, str(d / "train.parquet"))
    deduped = checks.curation_deduped(checks.connect(), str(d / "train.parquet"))
    pairs = []
    for members in truth["near_clusters"]:
        live = sorted(m for m in members if m in deduped)
        for i, a in enumerate(live):
            for b in live[i + 1:]:
                j = checks.jaccard(checks.grams(deduped[a][0], 3), checks.grams(deduped[b][0], 3))
                pairs.append((a, b, j))
    return deduped, pairs, truth, bench.column("text").to_pylist()


def test_planted_pairs_have_high_jaccard(corpus):
    deduped, pairs, truth, _ = corpus
    assert pairs and min(j for _, _, j in pairs) >= 0.95
    assert checks.check_pairs(deduped, pairs, truth, 0.5) == []


def test_missed_planted_pair_flagged(corpus):
    deduped, pairs, truth, _ = corpus
    errs = checks.check_pairs(deduped, pairs[1:], truth, 0.5)
    assert any("not found" in e for e in errs)


def test_low_jaccard_pair_flagged(corpus):
    deduped, pairs, truth, _ = corpus
    a, b = sorted(deduped)[:2]
    errs = checks.check_pairs(deduped, pairs + [(a, b, 0.9)], truth, 0.5)
    assert any(f"({a},{b})" in e for e in errs)


def test_curated_output_mismatch_flagged(corpus):
    deduped, pairs, _truth, bench = corpus
    want, contaminated = checks.curation_expected(deduped, pairs, bench, MIX)
    assert contaminated > 0 and want
    got = [(d, lang, q) for d, (lang, q) in want.items()]
    assert checks.check_curated(got, want) == []
    assert checks.check_curated(got[1:], want)
    assert checks.check_curated(got + got[:1], want)
