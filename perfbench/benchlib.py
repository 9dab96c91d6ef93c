"""Input generation, output checks and metric assembly for perfbench/run.py."""
import hashlib
import json
import math
import random
import statistics
from dataclasses import dataclass
from pathlib import Path

import numpy as np

LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
# Separators hold no letters, so the engine's `[^\p{L}]+` tokenizer splits on
# them without merging or inventing tokens; "\n\n" leaves empty lines.
SEPARATORS = np.array([" ", " ", " ", " ", ", ", ". ", "; ", " -- ", " 42 ", "\n", "\n\n"])


@dataclass
class Corpus:
    text: str
    counts: dict   # word -> exact number of occurrences in text
    absent: list   # letters-only words that do not occur in text


def word(prefix_len, rank, rng):
    """A letters-only word: a random prefix plus a 4-letter code of its rank,
    so distinct ranks never collide."""
    code = "".join(LETTERS[(rank // 26 ** i) % 26] for i in range(4))
    return "".join(rng.choice(LETTERS, size=prefix_len)) + code


def make_corpus(seed, tokens, vocab, zipf_s):
    """`tokens` words drawn from a Zipf(zipf_s) law over `vocab` words."""
    rng = np.random.default_rng(seed)
    words = np.array([word(int(n), r, rng) for r, n in
                      enumerate(rng.integers(1, 7, size=vocab))], dtype=object)
    p = np.arange(1, vocab + 1, dtype=np.float64) ** -zipf_s
    ids = rng.choice(vocab, size=tokens, p=p / p.sum())
    parts = np.empty(2 * tokens, dtype=object)
    parts[0::2] = words[ids]
    parts[1::2] = rng.choice(SEPARATORS, size=tokens)
    counts = np.bincount(ids, minlength=vocab)
    absent = [word(3, vocab + k, rng) for k in range(64)]
    return Corpus("".join(parts), {words[i]: int(c) for i, c in enumerate(counts) if c},
                  absent)


def lookups(corpus, seed, n):
    """Seeded point lookups: nine in ten hit a stored word, the rest miss
    (expected count 0 means no row)."""
    rng = random.Random(seed)
    present = sorted(corpus.counts)
    out = {}
    while len(out) < n:
        if rng.random() < 0.9:
            w = rng.choice(present)
            out[w] = corpus.counts[w]
        else:
            out[rng.choice(corpus.absent)] = 0
    return out


def write_counts(path, counts):
    Path(path).write_text("".join(f"{w}\t{c}\n" for w, c in counts.items()))


def percentile(xs, q):
    """Nearest-rank percentile. Returns (value, samples, samples beyond it)."""
    s = sorted(xs)
    if not s:
        return 0.0, 0, 0
    rank = max(1, math.ceil(q / 100 * len(s)))
    return s[rank - 1], len(s), len(s) - rank


def fs_type(path):
    """Type of the filesystem holding `path`, from /proc/mounts."""
    best, kind = "", "unknown"
    try:
        for line in Path("/proc/mounts").read_text().splitlines():
            _, mnt, typ = line.split()[:3]
            if str(path).startswith(mnt) and len(mnt) > len(best):
                best, kind = mnt, typ
    except OSError:
        pass
    return kind


def oracle_counts(fixture, sqls, cache_dir):
    """Row counts of the oracle SQL run in DuckDB over the fixture, cached per
    fixture and statement so each is computed once per checkout."""
    import duckdb
    tables = sorted(p for p in Path(fixture).glob("*.parquet"))
    fid = hashlib.sha256(b"".join(p.name.encode() + p.read_bytes() for p in tables)).hexdigest()
    cache_file = Path(cache_dir) / f"{fid[:16]}.json"
    cache = json.loads(cache_file.read_text()) if cache_file.exists() else {}
    key = {sql: hashlib.sha256(sql.encode()).hexdigest() for sql in sqls}
    missing = [sql for sql in sqls if key[sql] not in cache]
    if missing:
        con = duckdb.connect()
        for p in tables:
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
        for sql in missing:
            cache[key[sql]] = len(con.sql(sql).fetchall())
        cache_file.parent.mkdir(parents=True, exist_ok=True)
        cache_file.write_text(json.dumps(cache))
    return {sql: cache[key[sql]] for sql in sqls}


def check_registry(res, fixture, cache_dir):
    """Each query's row count against DuckDB on the oracle SQL; the queries
    with no oracle by design must return rows. Returns (attempted, failures)."""
    recs = [q for p in res["passes"] for q in p["queries"]]
    expected = oracle_counts(fixture, sorted({q["oracle_sql"] for q in recs if q["oracle_sql"]}),
                             cache_dir)
    failures = []
    for q in recs:
        if q["error"]:
            failures.append(f"{q['name']}: {q['error']}")
        elif q["rows_only"] or not q["oracle_sql"]:
            if q["rows"] <= 0:
                failures.append(f"{q['name']}: no rows")
        elif q["rows"] != expected[q["oracle_sql"]]:
            failures.append(f"{q['name']}: {q['rows']} rows, oracle {expected[q['oracle_sql']]}")
    return len(recs), failures


def metrics(res, spec, traced):
    """Turns the harness result into the metrics BENCHMARK.json declares:
    end-to-end ones from untraced passes, per-layer ones from traced passes."""
    untraced = [p for p in res["passes"] if not p["traced"] and not p.get("warmup")]
    lines, context = [], {}
    med = statistics.median

    pass_s = med(p["pass_s"] for p in untraced)
    ops = [x for p in untraced for x in p["ops_ms"]]
    p50, n_ops, _ = percentile(ops, 50)
    p75, _, beyond = percentile(ops, 75)
    e2e = {"setup_s": med(res["setup_s"]), "pass_s": pass_s, "op_p50_ms": p50,
           "op_p75_ms": p75, "retained_mb": res["retained_mb"]}
    samples = {"setup_s": f"median of {len(res['setup_s'])} set-ups",
               "pass_s": f"median of {len(untraced)} passes",
               "op_p50_ms": f"{n_ops} operations", "op_p75_ms": f"{n_ops} operations, {beyond} beyond",
               "retained_mb": f"live heap after a full GC; peak RSS {res['peak_rss_mb']:.0f} MB"}
    phases = {k: med(p[k] for p in untraced) for k in ("pipeline_s", "replicate_s", "readback_s")
              if k in untraced[0]}
    context.update(phases)

    if not traced:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = e2e
        for k, v in e2e.items():
            lines.append(f"{k} = {v:.6g} {units[k]} ({samples[k]})")
        if phases:
            lines.append("phases (median s): " + ", ".join(f"{k} {v:.4g}" for k, v in phases.items()))
    else:
        traced_passes = [p for p in res["passes"] if p["traced"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = {}
        for name in units:
            xs = [p["layers"][name] for p in traced_passes if name in p["layers"]]
            values[name] = med(xs) if xs else 0.0
        for k in phases:
            values["phase." + k] = med(p[k] for p in traced_passes)
        traced_s = med(p["pass_s"] for p in traced_passes)
        values["trace.overhead_pct"] = 100.0 * (traced_s / pass_s - 1)
        lines.append(f"tracing overhead: traced pass {traced_s:.4g} s vs untraced {pass_s:.4g} s "
                     f"({values['trace.overhead_pct']:+.1f}%)")
        top = sorted(res.get("self_s", {}).items(), key=lambda kv: -kv[1])[:8]
        lines.append("self time (s): " + ", ".join(f"{k} {v:.3f}" for k, v in top))
        for k in units:
            lines.append(f"{k} = {values[k]:.6g} {units[k]}")
    return {"metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
            "lines": lines, "context": context}
