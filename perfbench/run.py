#!/usr/bin/env python3
"""Layered benchmark of graft: two workloads, outputs checked every run.

Usage (from the repository root):
    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads: graph_iterative and stream_stateful (see
perfbench/README.md). The first run in a checkout builds the repository and
the harness with sbt. Each run makes its inputs from --seed under
.bench_build/, starts one JVM for the workload, checks the program's outputs
(batch gates against their DuckDB oracle SQL, the stream against running sums
recomputed here) and prints one JSON line last: with --trace 0 the end-to-end
metrics of BENCHMARK.json, with --trace 1 the per-layer ones.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / '.bench_build'

# Fixed load: never derived from the host, so every commit gets the same
# inputs for a seed. BENCHMARK.json repeats these in each workload's "why".
CORES = {'graph_iterative': 4, 'stream_stateful': 2}
HEAP = '3g'
ORDERS, CUSTOMERS, SUPPLIERS = 15000, 1500, 100
KEYS, ZIPF_S = 10000, 1.0
WARMUP, BACKLOG, CHUNK = 100000, 400000, 20000
RATE, TICK_MS = 8000, 5
JVM_TIMEOUT_S = 165

# The JVM settings of the repository's build (build.sbt), pinned here so
# that both sides of a comparison run with the same ones.
JVM_OPTS = [f'-Xms{HEAP}', f'-Xmx{HEAP}', '-XX:ReservedCodeCacheSize=1g',
            '-Dspark.ui.enabled=false', '-Dspark.sql.session.timeZone=UTC'] + [
    x for p in ('java.lang', 'java.lang.invoke', 'java.lang.reflect', 'java.io', 'java.net',
                'java.nio', 'java.util', 'java.util.concurrent', 'java.util.concurrent.atomic',
                'sun.nio.ch', 'sun.nio.cs', 'sun.security.action', 'sun.util.calendar')
    for x in ('--add-opens', f'java.base/{p}=ALL-UNNAMED')]


def log(msg):
    print(f'[perfbench] {msg}', file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_digest():
    """Digest of everything the build compiles, so a stale build is redone."""
    h = hashlib.sha256()
    files = [ROOT / 'build.sbt', HERE / 'build.sbt']
    for d in (ROOT / 'project', ROOT / 'src' / 'main', HERE / 'project', HERE / 'src'):
        if d.is_dir():
            files += [p for p in d.rglob('*') if p.is_file() and 'target' not in p.parts]
    for p in sorted(set(files)):
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()[:16]


def classpath(digest):
    cache = WORK / 'classpath.json'
    if cache.exists():
        c = json.loads(cache.read_text())
        if c.get('digest') == digest and cds_archive(digest).exists():
            return c['classpath']
    if not (ROOT / 'build.sbt').is_file():
        raise SystemExit('perfbench: no build.sbt at the repository root; nothing to build')
    env = dict(os.environ)
    env.setdefault('COURSIER_MODE', 'offline')
    if 'SBT_OPTS' not in env:
        opts = ['-Dsbt.offline=true', '-Xmx3g']
        repos = Path('~/.sbt/repositories').expanduser()
        if repos.is_file():
            opts += ['-Dsbt.override.build.repos=true', f'-Dsbt.repository.config={repos}']
        env['SBT_OPTS'] = ' '.join(opts)
    WORK.mkdir(parents=True, exist_ok=True)
    log('building the repository and the harness with sbt')
    t0 = time.time()
    with open(WORK / 'build.log', 'w') as out:
        r = subprocess.run(['sbt', '--batch', '-Dsbt.log.noformat=true',
                            'export Runtime/fullClasspathAsJars'],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                           text=True, timeout=840)
        out.write(r.stdout)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or not lines[-1].strip().endswith('.jar'):
        raise SystemExit(f'perfbench: build failed, see {WORK / "build.log"}')
    cp = lines[-1].strip()
    dump_cds(cp, digest)
    cache.write_text(json.dumps({'digest': digest, 'classpath': cp}))
    log(f'build done in {time.time() - t0:.0f} s')
    return cp


def cds_archive(digest):
    return WORK / 'cds' / f'{digest}.jsa'


def dump_cds(cp, digest):
    """Class-data sharing: one short stream run dumps the classes a Spark
    session loads into an archive that every measured run then maps instead
    of loading them from the jars. It shortens JVM start; the measured work
    is unchanged."""
    d = WORK / 'cds-dump'
    shutil.rmtree(d, ignore_errors=True)
    (d / 'tmp').mkdir(parents=True)
    archive = cds_archive(digest)
    archive.parent.mkdir(parents=True, exist_ok=True)
    archive.unlink(missing_ok=True)
    small = dict(warmup=2000, backlog=2000, rate=1000)
    gen_events(0, 1, d / 'events.bin', **small)
    r = subprocess.run(jvm(cp, d, f'-XX:ArchiveClassesAtExit={archive}', 'stream_stateful', 1, 0,
                           chunk=1000, **small),
                       cwd=d, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       timeout=JVM_TIMEOUT_S)
    shutil.rmtree(d, ignore_errors=True)
    if r.returncode != 0 or not archive.exists():
        raise SystemExit('perfbench: class-data archive dump failed')


def jvm(cp, run, share, workload, seconds, trace,
        warmup=WARMUP, backlog=BACKLOG, chunk=CHUNK, rate=RATE):
    """Command of one harness JVM; inputs and outputs live in `run`."""
    return (['java', share] + JVM_OPTS +
            [f'-Djava.io.tmpdir={run / "tmp"}', '-cp', cp, 'graft.perfbench.Main',
             '--workload', workload, '--data', str(run), '--events', str(run / 'events.bin'),
             '--out', str(run), '--seconds', str(seconds), '--trace', str(trace),
             '--cores', str(CORES[workload]), '--warmup', str(warmup), '--backlog', str(backlog),
             '--chunk', str(chunk), '--rate', str(rate), '--tick-ms', str(TICK_MS)])


# ---------------------------------------------------------------- inputs

def gen_tables(seed, d):
    """Seeded stand-ins for the sf tables the graph gates read, same columns."""
    rng = np.random.default_rng([seed, 1])
    okey = np.arange(ORDERS, dtype=np.int64)
    pq.write_table(pa.table({
        'o_orderkey': okey,
        'o_custkey': rng.integers(0, CUSTOMERS, ORDERS, dtype=np.int64)}),
        d / 'orders.parquet')
    lines = rng.integers(1, 8, ORDERS)
    lkey = np.repeat(okey, lines)
    pq.write_table(pa.table({
        'l_orderkey': lkey,
        'l_suppkey': rng.integers(0, SUPPLIERS, len(lkey), dtype=np.int64),
        'l_linenumber': np.concatenate([np.arange(1, n + 1, dtype=np.int32) for n in lines])}),
        d / 'lineitem.parquet')


def gen_events(seed, seconds, path, warmup=WARMUP, backlog=BACKLOG, rate=RATE):
    """Zipf-skewed keys over KEYS keys with small positive values; returns
    (keys, values). Which ids are hot is the same for every seed, so that
    the skew across state partitions does not change with it; the seed
    draws the sequence."""
    rng = np.random.default_rng([seed, 2])
    n = warmup + backlog + int(rate * seconds)
    p = 1.0 / np.arange(1, KEYS + 1) ** ZIPF_S
    ids = np.random.default_rng(0).permutation(KEYS).astype(np.int64)
    keys = ids[rng.choice(KEYS, n, p=p / p.sum())]
    vals = rng.integers(1, 101, n, dtype=np.int64)
    np.column_stack([keys, vals]).astype('<i8').tofile(path)
    return keys, vals


# ---------------------------------------------------------------- checks

def check_gates(run, oracle, failures):
    """Each gate's Spark result against its oracle SQL on the same tables,
    compared as tools/check.py does. Returns the number of failed gates; a
    gate whose call threw is already counted."""
    con = duckdb.connect()
    for t in ('orders', 'lineitem'):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{run / (t + '.parquet')}'")
    bad = 0
    for name, sql in sorted(oracle.items()):
        if any(f.startswith(f'{name}:') for f in failures):
            continue
        why = compare(con, run / 'gates' / name, sql)
        if why:
            bad += 1
            failures.append(f'{name}: {why}')
    return bad


def compare(con, pq_dir, sql):
    if not pq_dir.is_dir():
        return 'no Spark output'
    sdf = con.sql(f"SELECT * FROM '{pq_dir}/*.parquet'").df()
    odf = con.sql(sql).df()
    sdf, odf = sdf[sorted(sdf.columns)], odf[sorted(odf.columns)]
    if list(sdf.columns) != list(odf.columns):
        return f'schema: spark={list(sdf.columns)} oracle={list(odf.columns)}'
    if len(sdf) != len(odf):
        return f'rowcount: spark={len(sdf)} oracle={len(odf)}'
    if len(sdf) == 0:
        return 'empty result'
    cols = list(sdf.columns)
    sdf = sdf.sort_values(by=cols, ignore_index=True)
    odf = odf.sort_values(by=cols, ignore_index=True)
    for c in cols:
        a, b = sdf[c], odf[c]
        if str(a.dtype) != str(b.dtype):
            return f'{c}: dtype {a.dtype} vs {b.dtype}'
        neq = ~((a == b) | (a.isna() & b.isna()))
        if neq.any():
            i = neq.idxmax()
            return f'{c}: {int(neq.sum())} diffs, first@{i}: {a[i]!r} vs {b[i]!r}'
    return None


def check_stream(keys, vals, run, failures):
    """Every event emitted exactly once with its key's running sum.
    Returns the number of wrong events (missing, duplicated or wrong)."""
    n = len(keys)
    order = np.lexsort((np.arange(n), keys))
    ks, vs = keys[order], vals[order]
    csum = np.cumsum(vs)
    starts = np.r_[0, np.flatnonzero(ks[1:] != ks[:-1]) + 1]
    base = np.repeat(csum[starts] - vs[starts], np.diff(np.r_[starts, n]))
    expect = np.empty(n, dtype=np.int64)
    expect[order] = csum - base
    files = sorted((run / 'stream_out').glob('*.parquet'))
    if not files:
        failures.append('stream: no output')
        return n
    got = duckdb.sql(f"SELECT key, seq, total FROM read_parquet({[str(f) for f in files]})").fetchnumpy()
    seq, gk, gt = got['seq'], got['key'], got['total']
    ok = (seq >= 0) & (seq < n)
    counts = np.bincount(seq[ok], minlength=n)
    right = np.zeros(n, dtype=bool)
    s = seq[ok]
    right[s] = (gk[ok] == keys[s]) & (gt[ok] == expect[s])
    wrong = int(np.sum((counts != 1) | ~right)) + int(np.sum(~ok))
    if wrong:
        failures.append(f'stream: {wrong} of {n} events missing, duplicated or wrong '
                        f'({int(np.sum(counts == 0))} missing, {int(np.sum(counts > 1))} duplicated)')
    return wrong


# ---------------------------------------------------------------- run

def loadavg():
    try:
        return [float(x) for x in Path('/proc/loadavg').read_text().split()[:3]]
    except OSError:
        return []


def cpu_jiffies():
    """(steal, total) jiffies of all CPUs: steal is time the host gave to
    other guests while this one had work."""
    try:
        f = [int(x) for x in Path('/proc/stat').read_text().split('\n')[0].split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return 0, 0


def git_commit():
    try:
        r = subprocess.run(['git', 'rev-parse', 'HEAD'], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--workload', required=True,
                    choices=['graph_iterative', 'stream_stateful'])
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=int, required=True)
    ap.add_argument('--trace', type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    load_start = loadavg()
    cpu_start = cpu_jiffies()
    spec = json.loads((ROOT / 'BENCHMARK.json').read_text())

    digest = source_digest()
    cp = classpath(digest)

    run = WORK / 'runs' / f'{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}'
    shutil.rmtree(run, ignore_errors=True)
    (run / 'tmp').mkdir(parents=True)
    try:
        stream = a.workload == 'stream_stateful'
        if stream:
            keys, vals = gen_events(a.seed, a.seconds, run / 'events.bin')
        else:
            gen_tables(a.seed, run)
        cmd = jvm(cp, run, f'-XX:SharedArchiveFile={cds_archive(digest)}', a.workload,
                  a.seconds, a.trace)
        t_jvm = time.time()
        with open(run / 'jvm.log', 'w') as jl:
            r = subprocess.run(cmd, cwd=run, stdout=jl, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        t_jvm = time.time() - t_jvm
        if r.returncode != 0 or not (run / 'result.json').exists():
            tail = (run / 'jvm.log').read_text()[-3000:]
            raise SystemExit(f'perfbench: JVM run failed ({r.returncode}):\n{tail}')
        res = json.loads((run / 'result.json').read_text())

        failures = list(res['failures'])
        failed = len(res['failures'])
        if stream:
            failed += check_stream(keys, vals, run, failures)
        else:
            failed += check_gates(run, res['oracle'], failures)

        wanted = spec['per_layer'] if a.trace else spec['end_to_end']
        source = res['layers'] if a.trace else res['metrics']
        metrics, missing = {}, []
        for m in wanted:
            v = source.get(m['name'])
            if v is None:
                missing.append(m['name'])
            else:
                metrics[m['name']] = {'value': v, 'unit': m['unit']}
        if missing:
            failures.append(f'metrics not measured: {missing}')

        if a.trace:
            traces = WORK / 'traces'
            traces.mkdir(exist_ok=True)
            shutil.copy(run / 'spans.jsonl', traces / f'{a.workload}-s{a.seed}.jsonl')

        load_end = loadavg()
        steal, total = (e - s for e, s in zip(cpu_jiffies(), cpu_start))
        ncpu = os.cpu_count() or 1
        context = dict(res['context'], workload=a.workload, seed=a.seed, seconds=a.seconds,
                       trace=a.trace, cores=CORES[a.workload], nproc=ncpu, heap=HEAP,
                       git_commit=git_commit(), source_digest=digest,
                       loadavg_start=load_start, loadavg_end=load_end,
                       loaded=max(load_start[:1] + load_end[:1] or [0]) > ncpu,
                       steal_frac=round(steal / total, 4) if total else None,
                       failures=failures[:20], wall_s=round(time.time() - t_start, 1),
                       jvm_s=round(t_jvm, 1),
                       error_rate=failed / max(1, res['attempted']))
        for f in failures[:20]:
            log(f'FAIL {f}')
        print(json.dumps({'context': context}))
        print(json.dumps({'correct': failed == 0 and not missing,
                          'attempted': int(res['attempted']), 'failed': int(failed),
                          'metrics': metrics}))
    finally:
        shutil.rmtree(run, ignore_errors=True)


if __name__ == '__main__':
    main()
