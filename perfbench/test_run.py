"""Tests of the benchmark's output contract.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

`EndToEnd` builds the program if needed and runs the benchmark once, so
it takes a minute or more.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

with open(os.path.join(run.ROOT, 'BENCHMARK.json')) as f:
    SPEC = json.load(f)


def artifact(failed=0):
    return {
        'attempted': 8, 'failed': failed,
        'end_to_end': {m['name']: 1.5 for m in SPEC['end_to_end']},
        'per_layer': {m['name']: 0.0 for m in SPEC['per_layer']},
    }


class ResultLine(unittest.TestCase):

    def test_untraced_line_has_every_end_to_end_metric_with_its_unit(self):
        line = run.result_line(artifact(), SPEC, trace=0)
        self.assertEqual(set(line), {'correct', 'attempted', 'failed', 'metrics'})
        self.assertEqual(line['metrics'], {m['name']: {'value': 1.5, 'unit': m['unit']}
                                           for m in SPEC['end_to_end']})
        self.assertTrue(line['correct'])

    def test_traced_line_has_every_per_layer_metric(self):
        line = run.result_line(artifact(), SPEC, trace=1)
        self.assertEqual(list(line['metrics']), [m['name'] for m in SPEC['per_layer']])

    def test_a_failed_item_makes_the_run_incorrect(self):
        line = run.result_line(artifact(failed=1), SPEC, trace=0)
        self.assertFalse(line['correct'])
        self.assertEqual((line['attempted'], line['failed']), (8, 1))

    def test_an_unmeasured_metric_is_an_error(self):
        a = artifact()
        del a['end_to_end']['task_file_s']
        with self.assertRaises(run.BenchError):
            run.result_line(a, SPEC, trace=0)


class EndToEnd(unittest.TestCase):

    def bench(self, root, *args):
        return subprocess.run(
            [sys.executable, os.path.join(root, 'perfbench', 'run.py')] + list(args),
            cwd=root, capture_output=True, text=True, timeout=900)

    def test_a_short_run_prints_a_parseable_correct_result(self):
        out = self.bench(run.ROOT, '--workload', 'csv_transform', '--seed', '1',
                         '--seconds', '1', '--trace', '0')
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        lines = out.stdout.strip().splitlines()
        self.assertFalse([l for l in lines if l.startswith('[')], 'a log prefix reached stdout')
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {'correct', 'attempted', 'failed', 'metrics'})
        self.assertTrue(result['correct'])
        self.assertEqual(result['failed'], 0)
        self.assertGreaterEqual(result['attempted'], 2 * 4)  # 2 items x (cold + 3 warm runs)
        for m in SPEC['end_to_end']:
            self.assertEqual(result['metrics'][m['name']]['unit'], m['unit'])
            self.assertGreater(result['metrics'][m['name']]['value'], 0)
        with open(os.path.join(run.BUILD, 'results', 'csv_transform-seed1-trace0.json')) as f:
            stamped = json.load(f)
        for key in ('cores', 'seed', 'input_sha256', 'git_commit', 'java_version',
                    'spark_version', 'source_sha256'):
            self.assertIn(key, stamped)
        self.assertEqual(stamped['cores'], min(4, len(os.sched_getaffinity(0))))

    def test_without_the_program_it_fails_without_a_result(self):
        bare = os.path.join(run.BUILD, 'bare')
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(run.ROOT, 'BENCHMARK.json'), bare)
        shutil.copytree(HERE, os.path.join(bare, 'perfbench'),
                        ignore=shutil.ignore_patterns('target', '__pycache__'))
        try:
            out = self.bench(bare, '--workload', 'csv_transform', '--seed', '1',
                             '--seconds', '1', '--trace', '0')
        finally:
            shutil.rmtree(bare)
        self.assertNotEqual(out.returncode, 0)
        self.assertEqual(out.stdout, '')


if __name__ == '__main__':
    unittest.main()
