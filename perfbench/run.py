#!/usr/bin/env python3
"""Run one benchmark workload against the library built from source.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --all [--seed n] [--seconds s]   # every workload, metric table
    python3 perfbench/run.py --selftest                       # checker and generator tests

Run from the repository root. The first call builds the library and the
harness with sbt and writes a class-data-sharing archive from one training
run of the set-up of every BENCHMARK.json workload (both cached under
.bench_build/ until a source changes, and bounded apart from the run's own
time limit); every run then starts one JVM that runs the workload on
local[nproc].
The last line of standard output is the run's JSON result; the full run
artifact is kept under .bench_build/results/<workload>/.
"""
import argparse
import decimal
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, '.bench_build')
CDS_ARCHIVE = os.path.join(BUILD, 'classes.jsa')
# a run must end within 180 s; a run that builds first within 900 s
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 700
WORKLOADS = ['analyst_sql', 'versioned_commits', 'ingest', 'event_stream', 'corpus_curation']
SBT_OPTS = ('-Dsbt.override.build.repos=true -Dsbt.repository.config='
            + os.path.expanduser('~/.sbt/repositories')
            + ' -Dsbt.offline=true -Xmx3g')
JDK17_OPENS = [
    'java.base/java.lang', 'java.base/java.lang.invoke', 'java.base/java.lang.reflect',
    'java.base/java.io', 'java.base/java.net', 'java.base/java.nio', 'java.base/java.util',
    'java.base/java.util.concurrent', 'java.base/java.util.concurrent.atomic',
    'java.base/sun.nio.ch', 'java.base/sun.nio.cs', 'java.base/sun.security.action',
    'java.base/sun.util.calendar']


def fail(msg, code=2):
    print(f'perfbench: {msg}', file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: library and harness sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, 'src', 'main'), os.path.join(HERE, 'src'),
             os.path.join(ROOT, 'build.sbt'), os.path.join(HERE, 'build.sbt'),
             os.path.join(ROOT, 'project', 'build.properties'),
             os.path.join(HERE, 'project', 'build.properties')]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, 'rb') as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the library and the harness; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, 'build.sbt'))
            and os.path.isfile(os.path.join(ROOT, 'src', 'main', 'scala', 'graft', 'Lake.scala'))):
        fail('the library sources (build.sbt, src/main/scala/graft) are not here; '
             'run from the repository root')
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, 'classpath.txt')
    stamp_file = os.path.join(BUILD, 'stamp.txt')
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault('COURSIER_MODE', 'offline')
    env.setdefault('SBT_OPTS', SBT_OPTS)
    log = os.path.join(BUILD, 'build.log')
    # jars only: the class-data-sharing archive cannot cover class dirs
    cmd = ['sbt', '-batch', '-Dsbt.server.autostart=false', '-Dsbt.log.noformat=true',
           'export Runtime/fullClasspathAsJars']
    t0 = time.time()
    with open(log, 'w') as fh:
        code = run_bounded(cmd, HERE, env, fh, BUILD_TIMEOUT_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l.strip() for l in lines if '.jar' in l and l.strip().startswith('/')]
    if code != 0 or not cps:
        fail(f'build failed (exit {code}); see {log}', 3)
    cp = cps[-1]
    # one training run of every workload's set-up writes the archive of
    # the classes they load; later JVMs map it instead of loading them
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    scratch = os.path.join(BUILD, 'train')
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, 'tmp'))
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(scratch, 'spark-local'))
    cmd = java_cmd(cp, 'perfbench.Train', ['--root', os.path.join(scratch, 'work')], scratch,
                   [f'-XX:ArchiveClassesAtExit={CDS_ARCHIVE}'])
    with open(log, 'a') as fh:
        code = run_bounded(cmd, ROOT, env, fh, BUILD_TIMEOUT_S - (time.time() - t0))
    shutil.rmtree(scratch, ignore_errors=True)
    if code != 0 or not os.path.isfile(CDS_ARCHIVE):
        fail(f'class-loading training run failed (exit {code}); see {log}', 3)
    with open(cp_file, 'w') as fh:
        fh.write(cp)
    with open(stamp_file, 'w') as fh:
        fh.write(stamp)
    return cp


def run_bounded(cmd, cwd, env, out, timeout_s):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so nothing it started outlives the run."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def java_cmd(cp, main, args, scratch, cds=None):
    opens = [x for p in JDK17_OPENS for x in ('--add-opens', f'{p}=ALL-UNNAMED')]
    if cds is None:
        cds = [f'-XX:SharedArchiveFile={CDS_ARCHIVE}'] if os.path.isfile(CDS_ARCHIVE) else []
    return (['java', '-Xmx3g', '-XX:+UseParallelGC'] + cds + opens +
            ['-Duser.timezone=UTC', f'-Djava.io.tmpdir={scratch}/tmp',
             '-Dspark.ui.enabled=false', '-cp', cp, main] + args)


def benchmark_spec():
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as fh:
        return json.load(fh)


# ------------------------------------------------------------ DuckDB twin

def _num(v):
    if isinstance(v, (int, float, decimal.Decimal)) and not isinstance(v, bool):
        return float(v)
    return None


def _canon(v):
    if hasattr(v, 'isoformat'):
        return v.isoformat(sep=' ')[:19]
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    return v


def values_match(a, b, tol):
    """Spark value `a` against DuckDB value `b`: numbers within relative
    tolerance `tol` (plus float printing noise), everything else equal."""
    na, nb = _num(a), _num(b)
    if na is not None and nb is not None:
        return abs(na - nb) <= max(tol, 1e-9) * max(1.0, abs(na), abs(nb))
    return _canon(a) == _canon(b)


def rows_match(spark_rows, duck_rows, tol):
    if len(spark_rows) != len(duck_rows):
        return f'{len(spark_rows)} rows, DuckDB twin has {len(duck_rows)}'
    for i, (ra, rb) in enumerate(zip(spark_rows, duck_rows)):
        if len(ra) != len(rb) or not all(values_match(x, y, tol) for x, y in zip(ra, rb)):
            return f'row {i}: {ra!r} vs DuckDB {list(rb)!r}'
    return None


def duck_check(results_path):
    """Run every recorded query's DuckDB twin over the same fixture files
    and compare. Returns (checked, [mismatch messages])."""
    import duckdb
    with open(results_path) as fh:
        lines = [json.loads(l) for l in fh if l.strip()]
    header, recs = lines[0], lines[1:]
    con = duckdb.connect()
    fx = header['fixtures']
    for t in sorted(os.listdir(fx)):
        name = t.removesuffix('.parquet')
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{fx}/{t}/*.parquet')")
    bad = []
    for r in recs:
        try:
            duck_rows = con.execute(r['duck']).fetchall()
        except Exception as e:  # a twin that cannot run is a failed check
            bad.append(f"{r['template']}: DuckDB error {str(e)[:200]}")
            continue
        msg = rows_match(r['rows'], duck_rows, r['tol'])
        if msg:
            bad.append(f"{r['template']}: {msg}")
    return len(recs), bad


# ------------------------------------------------------------------ runs

def run_one(workload, seed, seconds, trace, quiet=False):
    cp = build()
    run_id = f'{workload}-s{seed}-t{trace}-{os.getpid()}'
    scratch = os.path.join(BUILD, 'runs', run_id)
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, 'tmp'))
    artifact = os.path.join(scratch, 'artifact.json')
    env = dict(os.environ)
    # Spark's scratch stays inside the checkout, not on /dev/shm
    env['SPARK_GRAFT_LOCAL_DIR'] = os.path.join(scratch, 'spark-local')
    log_dir = os.path.join(BUILD, 'logs')
    os.makedirs(log_dir, exist_ok=True)
    log = os.path.join(log_dir, f'{run_id}.log')
    cmd = java_cmd(cp, 'perfbench.Main',
                   ['--workload', workload, '--seed', str(seed), '--seconds', str(seconds),
                    '--trace', str(trace), '--root', os.path.join(scratch, 'work'),
                    '--out', artifact], scratch)
    with open(log, 'w') as fh:
        code = run_bounded(cmd, ROOT, env, fh, RUN_TIMEOUT_S)
    if code != 0 or not os.path.isfile(artifact):
        fail(f'{workload} run failed (exit {code}); see {log}', 4)
    with open(artifact) as fh:
        art = json.load(fh)
    failures = list(art['failures'])
    failed = art['failed']
    if workload == 'analyst_sql':
        checked, bad = duck_check(os.path.join(scratch, 'work', 'analyst_results.jsonl'))
        art['duckdb_checked'] = checked
        failures += bad
        failed += len(bad)
    art['failed'] = failed
    art['failures'] = failures
    art['metrics']['failed_op_ratio']['value'] = failed / max(1, art['attempted'])
    spec = benchmark_spec()
    names = spec['per_layer'] if trace else spec['end_to_end']
    metrics = {}
    for m in names:
        n = m['name']
        if trace:
            v = art['layers'].get(n)
        else:
            v = art['metrics'].get(n, {}).get('value')
        if v is None:
            fail(f'{workload}: metric {n} was not measured', 5)
        metrics[n] = {'value': v, 'unit': m['unit']}
    result = {'correct': failed == 0, 'attempted': int(art['attempted']),
              'failed': int(failed), 'metrics': metrics}
    art['result'] = result
    out_dir = os.path.join(BUILD, 'results', workload)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f's{seed}-t{trace}-{int(time.time() * 1000)}.json'), 'w') as fh:
        json.dump(art, fh)
    shutil.rmtree(scratch, ignore_errors=True)
    if failures and not quiet:
        for f in failures[:10]:
            print(f'check failed: {f}', file=sys.stderr)
    return art, result


def print_table(arts):
    """Every end-to-end metric by name and unit, per workload."""
    for art in arts:
        print(f"== {art['workload']} (seed {art['seed']}, {art['attempted']} ops, "
              f"{art['failed']} failed, tail = p{art['tail_pct']:g} of {art['tail_samples']})")
        for k, m in art['metrics'].items():
            print(f"  {k:28s} {m['value']:14.4f} {m['unit']}")


def selftest():
    cp = build()
    scratch = os.path.join(BUILD, 'selftest')
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, 'tmp'))
    code = run_bounded(java_cmd(cp, 'perfbench.SelfTest', [], scratch), ROOT,
                       dict(os.environ), None, RUN_TIMEOUT_S)
    shutil.rmtree(scratch, ignore_errors=True)
    code2 = subprocess.call([sys.executable, '-m', 'unittest', '-v', 'test_perfbench'], cwd=HERE)
    return 0 if code == 0 and code2 == 0 else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('--workload')
    ap.add_argument('--seed', type=int, default=1)
    ap.add_argument('--seconds', type=int)
    ap.add_argument('--trace', type=int, choices=[0, 1], default=0)
    ap.add_argument('--all', action='store_true')
    ap.add_argument('--selftest', action='store_true')
    a = ap.parse_args()
    if a.selftest:
        sys.exit(selftest())
    spec = benchmark_spec()
    seconds = a.seconds or spec['run_seconds']
    names = [w['name'] for w in spec['workloads']]
    names += [w for w in WORKLOADS if w not in names]
    if a.all:
        arts = [run_one(w, a.seed, seconds, 0, quiet=True)[0] for w in names]
        print_table(arts)
        sys.exit(0 if all(x['failed'] == 0 for x in arts) else 1)
    if a.workload not in names:
        fail(f'--workload must be one of {names}')
    _, result = run_one(a.workload, a.seed, seconds, a.trace)
    print(json.dumps(result))


if __name__ == '__main__':
    main()
