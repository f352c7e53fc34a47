#!/usr/bin/env python3
"""Task-file benchmark for graft (see perfbench/README.md).

    python3 perfbench/run.py --workload csv_transform --seed 1 --seconds 10 --trace 0

Run from anywhere inside a checkout of the repository. The first run
builds the program and the benchmark with sbt (offline); later runs
reuse the build while the sources are unchanged. Everything the
benchmark writes goes under `.bench_build/` at the checkout root. The
full artifact is written to `.bench_build/results/`; the last line of
standard output is the one-line JSON result.
"""
import argparse
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
WORKLOADS = ('csv_transform', 'sql_roundtrip', 'curate_tokens')
CACHED_SEEDS = 10   # generated input sets kept per workload
RUN_DEADLINE = 170  # seconds one run may take once the build exists
# A fixed heap and young generation, so the resident size follows the
# program's long-lived memory, not the collector's sizing choices.
HEAP = '3g'
YOUNG = '512m'
# Measured and printed, but not in BENCHMARK.json: one sample per run,
# whose spread across runs follows the host's load.
UNBOUNDED_UNITS = {'cold_task_file_s': 's'}
# Spark on JDK 17 outside spark-submit needs these (the program's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [a for p in (
    'java.base/java.lang', 'java.base/java.lang.invoke', 'java.base/java.lang.reflect',
    'java.base/java.io', 'java.base/java.net', 'java.base/java.nio', 'java.base/java.util',
    'java.base/java.util.concurrent', 'java.base/java.util.concurrent.atomic',
    'java.base/sun.nio.ch', 'java.base/sun.nio.cs', 'java.base/sun.security.action',
    'java.base/sun.util.calendar') for a in ('--add-opens', p + '=ALL-UNNAMED')]


class BenchError(Exception):
    pass


def sha256_file(path):
    h = hashlib.sha256()
    with open(path, 'rb') as f:
        for block in iter(lambda: f.read(1 << 20), b''):
            h.update(block)
    return h.hexdigest()


def tree_files(top):
    for d, dirs, files in os.walk(top):
        dirs.sort()
        for f in sorted(files):
            yield os.path.join(d, f)


def source_stamp():
    """Hash of everything the build reads: the program's build and main
    sources, and the benchmark's own."""
    if not (os.path.isfile(os.path.join(ROOT, 'build.sbt'))
            and os.path.isdir(os.path.join(ROOT, 'src', 'main'))):
        raise BenchError('the program sources (build.sbt, src/main) are not beside perfbench/')
    h = hashlib.sha256()
    for rel in ('build.sbt', 'project/build.properties', 'src/main',
                'perfbench/build.sbt', 'perfbench/project/build.properties', 'perfbench/src'):
        path = os.path.join(ROOT, rel)
        for f in ([path] if os.path.isfile(path) else tree_files(path)):
            h.update(os.path.relpath(f, ROOT).encode() + b'\0' + sha256_file(f).encode())
    return h.hexdigest()


def build(stamp):
    """The runtime classpath of the benchmark and the program, built once
    per source stamp."""
    cp_file, stamp_file = os.path.join(BUILD, 'classpath.txt'), os.path.join(BUILD, 'stamp')
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    opts = ['-Dsbt.offline=true', '-Dsbt.server.forcestart=false', '-Xmx3g']
    repos = os.path.expanduser('~/.sbt/repositories')
    if os.path.isfile(repos):
        opts += ['-Dsbt.override.build.repos=true', '-Dsbt.repository.config=' + repos]
    env = dict(os.environ, COURSIER_MODE='offline', SBT_OPTS=' '.join(opts))
    log = os.path.join(BUILD, 'build.log')
    open(log, 'w').close()
    code = supervise(['sbt', '--batch', '-Dsbt.log.noformat=true',
                      'export perfbench/Runtime/fullClasspath'], log, cwd=HERE, env=env, timeout=850)
    if code != 0:
        raise BenchError(f'the build failed (exit {code}); see {log}')
    with open(log) as f:
        lines = [l.strip() for l in f if os.path.join(HERE, 'target') in l and not l.startswith('[')]
    if not lines:
        raise BenchError(f'no classpath in the build output; see {log}')
    with open(cp_file, 'w') as f:
        f.write(lines[-1])
    with open(stamp_file, 'w') as f:
        f.write(stamp)
    return lines[-1]


def supervise(cmd, log, cwd=None, env=None, timeout=RUN_DEADLINE):
    """Run `cmd` with its output in `log`; kill its process group and
    wait for it if it outlives `timeout`."""
    with open(log, 'a') as out:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=max(timeout, 1))
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def java(cp, run_dir, args, deadline):
    tmp = os.path.join(run_dir, 'tmp')
    os.makedirs(tmp, exist_ok=True)
    cmd = (['java', '-Xms' + HEAP, '-Xmx' + HEAP, '-Xmn' + YOUNG] + ADD_OPENS + [
        '-Djava.io.tmpdir=' + tmp, '-Dspark.local.dir=' + tmp,
        '-Dspark.sql.warehouse.dir=' + os.path.join(run_dir, 'warehouse'),
        '-Dderby.stream.error.file=' + os.path.join(run_dir, 'derby.log'),
        '-Dspark.ui.enabled=false', '-Dspark.sql.session.timeZone=UTC',
        '-cp', cp, 'perfbench.Main'] + args)
    log = os.path.join(run_dir, 'jvm.log')
    try:
        code = supervise(cmd, log, cwd=run_dir, timeout=deadline - time.monotonic())
    except subprocess.TimeoutExpired:
        raise BenchError(f'{args[0]} ran out of time; see {log}')
    if code != 0:
        raise BenchError(f'{args[0]} failed (exit {code}); see {log}')


def inputs(cp, workload, seed, deadline):
    """The generated inputs for (workload, seed), cached, and the SHA-256
    of each data file."""
    top = os.path.join(BUILD, 'inputs', workload)
    d = os.path.join(top, f'seed-{seed}')
    done = os.path.join(d, '.done')
    if not os.path.isfile(done):
        shutil.rmtree(d, ignore_errors=True)
        gen_dir = os.path.join(BUILD, 'gen')
        shutil.rmtree(gen_dir, ignore_errors=True)
        os.makedirs(gen_dir)
        java(cp, gen_dir, ['gen', '--workload', workload, '--seed', str(seed),
                           '--inputs', os.path.join(d, 'data')], deadline)
        open(done, 'w').close()
        cached = sorted((os.path.join(top, s) for s in os.listdir(top)),
                        key=lambda p: os.path.getmtime(os.path.join(p, '.done'))
                        if os.path.exists(os.path.join(p, '.done')) else 0)
        for old in cached[:-CACHED_SEEDS]:
            shutil.rmtree(old, ignore_errors=True)
    os.utime(done)
    data = os.path.join(d, 'data')
    # the Derby database holds only the empty target table; its files
    # carry creation times, so it is left out of the hashes
    hashes = {os.path.relpath(f, data): sha256_file(f) for f in tree_files(data)
              if not os.path.relpath(f, data).startswith('derby' + os.sep)}
    return data, hashes


def git_commit():
    try:
        r = subprocess.run(['git', 'rev-parse', 'HEAD'], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def result_line(artifact, spec, trace):
    """The last stdout line: every end-to-end metric (trace 0) or every
    per-layer metric (trace 1) named in BENCHMARK.json, with its unit."""
    wanted = spec['per_layer' if trace else 'end_to_end']
    measured = artifact['per_layer' if trace else 'end_to_end']
    missing = [m['name'] for m in wanted if m['name'] not in measured]
    if missing:
        raise BenchError(f'metrics not measured: {missing}')
    return {
        'correct': artifact['failed'] == 0,
        'attempted': artifact['attempted'],
        'failed': artifact['failed'],
        'metrics': {m['name']: {'value': measured[m['name']], 'unit': m['unit']} for m in wanted},
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=int, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
            spec = json.load(f)
        cp = build(source_stamp())
        deadline = time.monotonic() + RUN_DEADLINE
        data, hashes = inputs(cp, args.workload, args.seed, deadline)
        cores = min(4, len(os.sched_getaffinity(0)))
        run_dir = os.path.join(BUILD, 'run', args.workload)
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        out = os.path.join(run_dir, 'result.json')
        java(cp, run_dir, [
            'run', '--workload', args.workload, '--inputs', data, '--cores', str(cores),
            '--work', os.path.join(run_dir, 'work'), '--out', out, '--seconds', str(args.seconds),
            '--trace', str(args.trace), '--launch-ms', str(int(time.time() * 1000))], deadline)
        with open(out) as f:
            artifact = json.load(f)
        artifact.update(seed=args.seed, seconds=args.seconds, git_commit=git_commit(),
                        source_sha256=source_stamp(), input_sha256=hashes)
        line = result_line(artifact, spec, args.trace)
    except BenchError as e:
        print(f'perfbench: {e}', file=sys.stderr)
        return 2
    results = os.path.join(BUILD, 'results')
    os.makedirs(results, exist_ok=True)
    path = os.path.join(results, f'{args.workload}-seed{args.seed}-trace{args.trace}.json')
    with open(path, 'w') as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} cores={artifact['cores']} "
          f"spark={artifact['spark_version']} java={artifact['java_version']} "
          f"commit={artifact['git_commit']}")
    for name, m in line['metrics'].items():
        print(f"  {name:32s} {m['value']:>16.6g} {m['unit']}")
    for name, unit in UNBOUNDED_UNITS.items():
        if name in artifact['end_to_end'] and not args.trace:
            print(f"  {name:32s} {artifact['end_to_end'][name]:>16.6g} {unit}")
    print(f"  {'fail_ratio':32s} {artifact['fail_ratio']:>16.6g} ratio "
          f"({artifact['failed']}/{artifact['attempted']} items)")
    print(f"  task-file samples: {artifact['task_file_samples']}, tail: {artifact['task_file_tail_s']}")
    print(f'  artifact: {os.path.relpath(path, ROOT)}')
    print(json.dumps(line))
    return 0


if __name__ == '__main__':
    sys.exit(main())
