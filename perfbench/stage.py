"""Seeded input generators for the benchmark workloads.

Runs as its own process, before the measured Spark session starts, so that
generation neither counts towards the session's memory nor shares its JVM::

    python3 perfbench/stage.py --workload ship_batch --seed 1 --out DIR

It writes parquet files under ``DIR`` plus ``DIR/manifest.json`` (rows,
bytes, planted shares, file list).  Generation is plain numpy + pyarrow:
the library under test never sees anything but the staged files, and the
same ``(workload, seed)`` always yields byte-identical inputs.

Three input kinds:

* **transcripts** (``ship_batch``, ``parse_heavy``): conversation turns with
  Pareto-distributed conversation lengths and one mega-conversation per 10k
  conversations (at least one per table).  Text comes from the five line
  families the library's parsers target, plus lines in the shapes of the
  extra 28-pattern grok pack, plus free text that no pattern matches.
* **delta stream** (``ship_incremental``): the same turn generator, cut into
  equal delta files with disjoint conversation ids and no mega-conversation.
  Besides the deltas a run appends, it stages a history: ``HISTORY_DELTAS``
  earlier deltas already in the table, and a checkpoint that records them
  as committed, in the runner's layout (``state.json`` with one commit per
  sink and the processed file list, one ``_lineage`` part file per run).
  The runner then starts from the state of a job that has been running a
  while, and its lineage compaction falls inside a timed pass.
* **corpus** (``curate_corpus``): documents in five languages with planted
  exact duplicates, near-duplicate clusters (3-shingle Jaccard >= 0.95) and
  a held-out bench slice that some train documents overlap by 5-grams.
  The planted ground truth goes to ``truth.json``, which only the output
  checks read.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- sizes -----------------------------------------------------------------
# Chosen so that a run holds several passes of a few seconds on a 4-core host;
# see README.md.
TRANSCRIPT_TURNS = 36_000         # ~3,100 conversations
DELTA_TURNS = 4_000               # turns per appended delta file
N_DELTAS = 40                     # more than one run can consume
# runs the checkpoint has already committed when a run starts.  The runner
# compacts _lineage once it holds more than 64 part files (one per run), so
# with one warm-up delta the second timed delta triggers the compaction
HISTORY_DELTAS = 62
N_BUCKETS_INCREMENTAL = 8         # see README.md, "Why 8 buckets"
INCREMENTAL_SINKS = ["errors", "syslog", "archive"]
CORPUS_DOCS = 4_000               # train documents
BENCH_DOCS = 400                  # held-out bench slice (10 %)
EXACT_DUP_SHARE = 0.06            # train docs that are exact copies
NEAR_DUP_SHARE = 0.08             # train docs that are near-copies
PARTIAL_SHARE = 0.06              # train docs sharing 45-85 % of another's text
CONTAM_SHARE = 0.03               # train docs that quote a bench doc

LEVELS = ["DEBUG", "INFO", "WARN", "ERROR"]
COMPONENTS = ["auth", "planner", "retriever", "executor"]
EVENTS = ["request_started", "cache_miss", "token_refresh", "plan_built",
          "doc_fetched", "tool_dispatch", "retry_scheduled", "request_done"]
TOOLS = ["search", "python", "browser", "calculator", "editor", "shell", "db"]
HOSTS = ["node-a", "node-b", "node-c", "edge-1"]
PROGS = ["sshd", "kernel", "cron", "agentd"]
ACTIONS = ["fetch", "write", "plan", "eval"]
STATUSES = ["ok", "error", "timeout"]
WORDS = ["the", "model", "replied", "with", "a", "summary", "of", "recent",
         "events", "and", "asked", "for", "clarification", "about", "context"]
ROLE_CYCLE = ["user", "assistant", "assistant", "tool", "system"]
# extra log shapes: prefix family i uses shape i % 4 (same layout as the
# library's 32-pattern grok pack, written out here independently)
EXT_PREFIXES = ["nginx", "apache", "k8s", "etcd", "kafka", "redis", "pgsql",
                "envoy", "haproxy", "systemd", "dockerd", "sshd", "cron", "vault"]
N_EXT = 28
METHODS = ["GET", "POST", "PUT", "DELETE"]
T0_EPOCH = 1_704_067_200          # 2024-01-01T00:00:00Z

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
])


def _conv_sizes(rng: np.random.Generator, n_turns: int, mega: bool) -> np.ndarray:
    """Conversation lengths summing to exactly ``n_turns``: Pareto(3, 1.2)
    capped at 200 turns; with ``mega``, one conversation per 10k (at least
    one) is 100x its base size, capped at 1,000 turns."""
    size = np.floor(np.minimum(200.0, 3.0 * (1.0 - rng.random(n_turns // 3 + 1)) ** (-1.0 / 1.2)))
    size = size.astype(np.int64)
    if mega:
        idx = np.arange(len(size))
        is_mega = ((idx % 10_000) == 9_999) | (idx == 1_000 % len(size))
        size = np.where(is_mega, np.minimum(size * 100, 1_000), size)
    k = int(np.searchsorted(np.cumsum(size), n_turns))
    size = size[:k + 1].copy()
    size[-1] = n_turns - int(size[:-1].sum())
    return size


def _ext_line(rng: np.random.Generator, fam: int) -> str:
    pfx = f"{EXT_PREFIXES[fam % len(EXT_PREFIXES)]}{fam:02d}"
    shape = fam % 4
    val = int(rng.integers(1, 100_000))
    word = WORDS[int(rng.integers(len(WORDS)))]
    if shape == 0:
        return f"{pfx} {word}={val} {word} done"
    if shape == 1:
        return f"{pfx}[{val}] {word}.svc: {word} ready"
    if shape == 2:
        return f'{pfx} "{METHODS[val % 4]} /{word}/{val}" {200 + val % 300}'
    return f"{pfx}: {word} -> {WORDS[val % len(WORDS)]} in {val}us"


def transcripts(seed: int, n_turns: int, conv_prefix: str = "conv",
                mega: bool = True) -> pa.Table:
    """One transcripts table of exactly ``n_turns`` rows:
    ``conv_id, turn_idx, role, text, tool, ts``."""
    rng = np.random.default_rng(seed)
    sizes = _conv_sizes(rng, n_turns, mega)
    n_convs = len(sizes)
    n = n_turns
    conv = np.repeat(np.arange(n_convs), sizes)
    starts = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    turn = np.arange(n) - np.repeat(starts, sizes)

    pert = rng.random(n)
    cycle = np.array(ROLE_CYCLE, dtype=object)[turn % 5]
    role = np.where(pert < 0.05, "user", np.where(pert < 0.075, "moderator", cycle))
    tool_idx = np.minimum(len(TOOLS) - 1, np.floor(-np.log(1.0 - rng.random(n)) * 1.5)).astype(int)
    tool = np.where(role == "tool", np.array(TOOLS, dtype=object)[tool_idx], None)

    fam = rng.integers(0, 100, n)
    ints = rng.integers(0, 1 << 30, size=(n, 8))
    texts = []
    for i in range(n):
        r = ints[i]
        if role[i] == "tool" or 75 <= fam[i] < 88:
            call_tool = tool[i] if tool[i] is not None else TOOLS[r[0] % 7]
            texts.append(f"CALL {call_tool}({WORDS[r[1] % 15]}) -> {STATUSES[r[2] % 3]}")
        elif fam[i] < 40:
            texts.append(f"{LEVELS[r[0] % 4]} {COMPONENTS[r[1] % 4]}: "
                         f"{EVENTS[r[2] % 8]} took {r[3] % 30_000 + 1}ms")
        elif fam[i] < 60:
            texts.append(f"<{r[0] % 192}>Jan {r[1] % 28 + 1:2d} 03:14:07 {HOSTS[r[2] % 4]} "
                         f"{PROGS[r[3] % 4]}[{r[4] % 32_000 + 1}]: {EVENTS[r[5] % 8]}")
        elif fam[i] < 75:
            texts.append(f'{{"action": "{ACTIONS[r[0] % 4]}", "status": "{STATUSES[r[1] % 3]}", '
                         f'"latency_ms": {r[2] % 5_000 + 1}}}')
        elif fam[i] < 93:
            texts.append(_ext_line(rng, int(r[0] % N_EXT)))
        else:
            texts.append(" ".join(WORDS[r[j] % 15] for j in range(6)))

    conv_start = rng.integers(0, 31 * 24 * 3600, n_convs)
    gaps = -np.log(1.0 - rng.random(n)) * 20.0
    csum = np.cumsum(gaps)
    # cumulative gap within each conversation, monotone in turn_idx
    offset = csum - np.repeat(csum[starts] - gaps[starts], sizes)
    ts_us = ((T0_EPOCH + conv_start[conv]) * 1_000_000 + (offset * 1e6).astype(np.int64))
    conv_ids = np.array([f"{conv_prefix}-{c:08d}" for c in range(n_convs)], dtype=object)
    return pa.table({
        "conv_id": pa.array(conv_ids[conv], pa.string()),
        "turn_idx": pa.array(turn.astype(np.int32)),
        "role": pa.array(role.tolist(), pa.string()),
        "text": pa.array(texts, pa.string()),
        "tool": pa.array(tool.tolist(), pa.string()),
        "ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
    }, schema=TRANSCRIPT_SCHEMA)


# -- corpus ------------------------------------------------------------------
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_SHARE = [0.40, 0.15, 0.15, 0.15, 0.15]
EN_STOPWORDS = ["the", "and", "of", "to", "in", "is", "a", "that", "it", "for"]
# chance that a token is an English stopword: the quality cutoff (median
# english_score) then falls inside the English share and keeps a mix
STOP_RATE = {"en": 0.25, "de": 0.08, "fr": 0.06, "es": 0.07, "zh": 0.0}
SYLLABLES = {"en": ["st", "or", "ing", "er", "on", "al", "ent", "ly"],
             "de": ["sch", "ber", "ung", "ein", "lich", "keit", "ach", "zu"],
             "fr": ["ele", "ment", "oir", "que", "tion", "eau", "ais", "pre"],
             "es": ["cion", "ado", "ente", "ero", "ita", "mos", "cas", "pue"],
             "zh": ["zhong", "guo", "shu", "ju", "xue", "xi", "wen", "ben"]}


def _lang_vocab(lang: str) -> list[str]:
    """512 three-syllable words, distinct per language, ASCII only."""
    syl = SYLLABLES[lang]
    return sorted({syl[a] + syl[b] + syl[c] for a in range(8) for b in range(8) for c in range(8)})


def corpus(seed: int, n_train: int, n_bench: int) -> tuple[pa.Table, pa.Table, dict]:
    """(train, bench, truth).  Doc ids: train 0..n_train-1, bench after."""
    rng = np.random.default_rng(seed + 1_000_003)
    vocab = {lang: _lang_vocab(lang) for lang in LANGS}
    langs = rng.choice(LANGS, size=n_train + n_bench, p=LANG_SHARE)

    def fresh(lang: str) -> list[str]:
        v = vocab[lang]
        n = int(rng.integers(30, 90))
        stop = rng.random(n) < STOP_RATE[lang]
        pick = rng.integers(0, len(v), n)
        sw = rng.integers(0, len(EN_STOPWORDS), n)
        return [EN_STOPWORDS[sw[j]] if stop[j] else v[pick[j]] for j in range(n)]

    words = [fresh(str(lang)) for lang in langs]
    bench_words = words[n_train:]

    n_exact = int(EXACT_DUP_SHARE * n_train)
    n_near = int(NEAR_DUP_SHARE * n_train)
    n_contam = int(CONTAM_SHARE * n_train)
    n_partial = int(PARTIAL_SHARE * n_train)
    ids = [int(i) for i in rng.permutation(n_train)]
    exact_ids = sorted(ids[:n_exact])
    near_ids = ids[n_exact:n_exact + n_near]
    contam_ids = sorted(ids[n_exact + n_near:n_exact + n_near + n_contam])
    partial_ids = sorted(ids[n_exact + n_near + n_contam:n_exact + n_near + n_contam + n_partial])
    special = set(exact_ids) | set(near_ids) | set(contam_ids) | set(partial_ids)
    plain = np.array(sorted(set(range(n_train)) - special))

    texts = [" ".join(w) for w in words[:n_train]]
    truth_exact = []
    for i in exact_ids:
        src = int(rng.choice(plain))
        # same fingerprint (case and punctuation differ), different bytes
        texts[i] = texts[src].upper().replace(" ", ", ", 1) + "."
        langs[i] = langs[src]
        truth_exact.append([src, i])
    # near-duplicate clusters of 2-4 members: each member is the cluster's
    # base text plus one distinct appended word, so every member pair has
    # 3-shingle Jaccard N/(N+2) >= 0.95 for N >= 38 shingles
    clusters = []
    pos = 0
    while pos + 2 <= len(near_ids):
        size = min(int(rng.integers(2, 5)), len(near_ids) - pos)
        members = sorted(near_ids[pos:pos + size])
        pos += size
        base = words[members[0]]
        if len(base) < 45:
            base = base + base[: 45 - len(base)]
        v = vocab[str(langs[members[0]])]
        extra = rng.choice(len(v), size=size, replace=False)
        for m, e in zip(members, extra):
            texts[m] = " ".join(base + ["zz" + v[e]])
            langs[m] = langs[members[0]]
        clusters.append(members)
    # partial copies: the source's leading 45-85 % of words, then fresh words.
    # 3-shingle Jaccard falls around 0.3-0.75, so LSH proposes some pairs
    # that the exact verify then rejects
    truth_partial = []
    for i in partial_ids:
        src = int(rng.choice(plain))
        w = words[src]
        k = int(round(len(w) * rng.uniform(0.45, 0.85)))
        fill = fresh(str(langs[src]))
        texts[i] = " ".join(w[:k] + (fill * 2)[:len(w) - k])
        langs[i] = langs[src]
        truth_partial.append([src, i])
    truth_contam = []
    for i in contam_ids:
        b = int(rng.integers(0, n_bench))
        src = bench_words[b]
        start = int(rng.integers(0, max(1, len(src) - 8)))
        w = words[i]
        cut = int(rng.integers(0, len(w)))
        texts[i] = " ".join(w[:cut] + src[start:start + 8] + w[cut:])
        truth_contam.append([i, n_train + b])

    def table(id0: int, tx: list[str], lg) -> pa.Table:
        return pa.table({
            "doc_id": pa.array(np.arange(id0, id0 + len(tx), dtype=np.int64)),
            "text": pa.array(tx, pa.string()),
            "lang": pa.array([str(x) for x in lg], pa.string()),
        })

    train = table(0, texts, langs[:n_train])
    bench = table(n_train, [" ".join(w) for w in bench_words], langs[n_train:])
    truth = {"exact_pairs": truth_exact, "near_clusters": clusters,
             "partial_pairs": truth_partial, "contaminated": truth_contam}
    return train, bench, truth


# -- incremental history -----------------------------------------------------
LINEAGE_SCHEMA = pa.schema([
    ("snapshot_id", pa.string()), ("sink", pa.string()), ("bucket", pa.int32()),
    ("rows", pa.int64()), ("wall_ms", pa.int64()), ("completed_at", pa.timestamp("us", tz="UTC")),
])


def routed_counts(t: pa.Table) -> dict[str, int]:
    """Rows per sink under the benchmark's routing (errors, syslog, drop
    DEBUG, archive the rest): the counts a commit of ``t`` records."""
    import pyarrow.compute as pc

    text = t.column("text")
    n = lambda mask: int(pc.sum(pc.cast(mask, pa.int64())).as_py() or 0)  # noqa: E731
    return {"errors": n(pc.starts_with(text, "ERROR ")), "syslog": n(pc.starts_with(text, "<")),
            "archive": t.num_rows - n(pc.starts_with(text, "DEBUG "))}


def history(seed: int, table_dir: str, ckpt: str, out_dir: str) -> int:
    """Stage ``HISTORY_DELTAS`` committed deltas: their files in
    ``table_dir``, their commits in ``ckpt/state.json`` and one lineage part
    file per run in ``ckpt/_lineage``, as ``CheckpointedRunner`` leaves
    them.  Returns the bytes of the history's data files."""
    import hashlib

    rng = np.random.default_rng(seed + 2_000_003)
    state: dict = {"committed": {}, "processed_files": []}
    lineage = os.path.join(ckpt, "_lineage")
    os.makedirs(lineage, exist_ok=True)
    t_us = (T0_EPOCH + 40 * 24 * 3600) * 1_000_000
    size = 0
    for h in range(HISTORY_DELTAS):
        part = transcripts(seed * 1_000 + 500 + h, DELTA_TURNS, conv_prefix=f"hist{h:03d}",
                           mega=False)
        path = os.path.join(table_dir, f"delta-h{h:04d}.parquet")
        size += _write(part, path)
        snap = "inc_" + hashlib.sha256(f"{seed}/{path}".encode()).hexdigest()[:12]
        rows = []
        commits = {}
        for sink, n in routed_counts(part).items():
            wall = int(rng.integers(300, 900))
            t_us += wall * 1_000
            commits[sink] = {"rows": n, "wall_ms": wall,
                             "path": os.path.join(out_dir, f"sink={sink}", f"ingest={snap}")}
            per_bucket = rng.multinomial(n, [1 / N_BUCKETS_INCREMENTAL] * N_BUCKETS_INCREMENTAL)
            rows.append((snap, sink, -1, n, wall, t_us))
            rows += [(snap, sink, b, int(k), wall, t_us) for b, k in enumerate(per_bucket) if k]
        state["committed"][snap] = commits
        state["processed_files"].append(path)
        cols = list(zip(*rows))
        pq.write_table(pa.table([pa.array(c, f.type) for c, f in zip(cols, LINEAGE_SCHEMA)],
                                schema=LINEAGE_SCHEMA),
                       os.path.join(lineage, f"part-00000-hist{h:04d}-c000.zstd.parquet"),
                       compression="zstd", use_deprecated_int96_timestamps=True)
        t_us += int(rng.integers(60, 600)) * 1_000_000
    open(os.path.join(lineage, "_SUCCESS"), "w").close()
    state["processed_files"].sort()
    with open(os.path.join(ckpt, "state.json"), "w") as f:
        json.dump(state, f, indent=2)
    return size


# -- staging -----------------------------------------------------------------
def _write(table: pa.Table, path: str, row_group: int = 16_384) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=row_group, compression="zstd")
    return os.path.getsize(path)


def stage(workload: str, seed: int, out: str) -> dict:
    t0 = time.perf_counter()
    out = os.path.abspath(out)
    os.makedirs(out, exist_ok=True)
    man: dict = {"workload": workload, "seed": seed, "files": {}}
    if workload in ("ship_batch", "parse_heavy"):
        t = transcripts(seed, TRANSCRIPT_TURNS)
        # a few files so the scan has several splits
        n, size = t.num_rows, 0
        for k in range(4):
            p = os.path.join(out, "transcripts", f"part-{k:05d}.parquet")
            size += _write(t.slice(k * n // 4, (k + 1) * n // 4 - k * n // 4), p)
        man["files"]["transcripts"] = os.path.join(out, "transcripts")
        man["input_rows"] = n
        man["input_bytes"] = size
        man["planted"] = {"conversations": len(set(t.column("conv_id").to_pylist())),
                          "mega_convs": 1}
    elif workload == "ship_incremental":
        paths, size = [], 0
        for d in range(N_DELTAS):
            # distinct conversation ids per delta through the prefix
            part = transcripts(seed * 1_000 + d, DELTA_TURNS, conv_prefix=f"delta{d:03d}",
                               mega=False)
            p = os.path.join(out, "deltas", f"delta-{d:05d}.parquet")
            size += _write(part, p)
            paths.append(p)
        files = {k: os.path.join(out, k) for k in ("table", "ckpt", "sinks")}
        hist_bytes = history(seed, files["table"], files["ckpt"], files["sinks"])
        man["files"].update(files, deltas=paths)
        man["delta_rows"] = [DELTA_TURNS] * N_DELTAS
        man["input_rows"] = DELTA_TURNS * N_DELTAS
        man["input_bytes"] = size
        man["planted"] = {"deltas": N_DELTAS, "mega_convs": 0,
                          "history_deltas": HISTORY_DELTAS, "history_rows": DELTA_TURNS * HISTORY_DELTAS,
                          "history_bytes": hist_bytes}
    elif workload == "curate_corpus":
        train, bench, truth = corpus(seed, CORPUS_DOCS, BENCH_DOCS)
        size = _write(train, os.path.join(out, "train", "part-00000.parquet"), 2_048)
        size += _write(bench, os.path.join(out, "bench", "part-00000.parquet"), 2_048)
        with open(os.path.join(out, "truth.json"), "w") as f:
            json.dump(truth, f)
        man["files"].update(train=os.path.join(out, "train"),
                            bench=os.path.join(out, "bench"),
                            truth=os.path.join(out, "truth.json"))
        man["input_rows"] = train.num_rows
        man["input_bytes"] = size
        man["planted"] = {
            "exact_dup_share": round(len(truth["exact_pairs"]) / CORPUS_DOCS, 4),
            "near_dup_share": round(sum(len(c) for c in truth["near_clusters"]) / CORPUS_DOCS, 4),
            "near_dup_pairs": sum(len(c) * (len(c) - 1) // 2 for c in truth["near_clusters"]),
            "partial_copy_share": round(len(truth["partial_pairs"]) / CORPUS_DOCS, 4),
            "contaminated_share": round(len(truth["contaminated"]) / CORPUS_DOCS, 4),
            "bench_docs": BENCH_DOCS,
        }
    else:
        raise ValueError(f"unknown workload {workload!r}")
    man["stage_s"] = time.perf_counter() - t0
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(man, f, indent=1)
    return man


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    man = stage(a.workload, a.seed, a.out)
    print(json.dumps({k: man[k] for k in ("workload", "seed", "input_rows", "input_bytes")}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
