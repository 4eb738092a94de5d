"""Tests of the benchmark's Python side: the DuckDB twin comparison that
checks analyst_sql results, and the compare tool's verdicts.

    cd perfbench && python3 -m unittest -v test_perfbench
"""
import io
import json
import os
import shutil
import tempfile
import unittest

import compare
import run


class DuckTwinCheck(unittest.TestCase):
    """run.duck_check must pass a faithful result and reject corrupted ones."""

    def setUp(self):
        import duckdb
        self.dir = tempfile.mkdtemp()
        fx = os.path.join(self.dir, 'fixtures')
        os.makedirs(os.path.join(fx, 'orders.parquet'))
        con = duckdb.connect()
        con.execute("CREATE TABLE t AS SELECT range AS o_orderkey, range % 3 AS g, "
                    "CAST(range * 1.25 AS DECIMAL(18,2)) AS price FROM range(100)")
        con.execute(f"COPY t TO '{fx}/orders.parquet/part-0.parquet' (FORMAT PARQUET)")
        self.fx = fx
        self.sql = ('SELECT g, COUNT(*) AS n, SUM(price) AS total FROM orders '
                    'GROUP BY g ORDER BY g')
        # the expected result, computed without DuckDB
        self.rows = [[g, len(range(g, 100, 3)), sum(i * 1.25 for i in range(g, 100, 3))]
                     for g in range(3)]

    def tearDown(self):
        shutil.rmtree(self.dir)

    def check(self, rows, tol=1e-9, sql=None):
        path = os.path.join(self.dir, 'results.jsonl')
        with open(path, 'w') as fh:
            fh.write(json.dumps({'fixtures': self.fx}) + '\n')
            fh.write(json.dumps({'template': 't', 'sql': self.sql, 'duck': sql or self.sql,
                                 'tol': tol, 'rows': rows}) + '\n')
        return run.duck_check(path)

    def test_faithful_result_passes(self):
        self.assertEqual(self.check(self.rows), (1, []))

    def test_corrupted_value_is_rejected(self):
        bad = [r[:] for r in self.rows]
        bad[1][2] += 0.01
        self.assertEqual(len(self.check(bad)[1]), 1)

    def test_missing_row_is_rejected(self):
        self.assertEqual(len(self.check(self.rows[:2])[1]), 1)

    def test_reordered_rows_are_rejected(self):
        self.assertEqual(len(self.check(list(reversed(self.rows)))[1]), 1)

    def test_approximate_within_stated_error(self):
        approx = [[g, n, t * 1.05] for g, n, t in self.rows]
        self.assertEqual(self.check(approx, tol=0.15)[1], [])
        self.assertEqual(len(self.check(approx, tol=0.01)[1]), 1)

    def test_failing_twin_is_a_failure(self):
        self.assertEqual(len(self.check(self.rows, sql='SELECT nope FROM orders')[1]), 1)


def artifact(workload, p50, setup=20.0, trace=False):
    return {'workload': workload, 'trace': trace, 'load_probe_ms': {'after': 100.0},
            'metrics': {'setup_s': {'value': setup, 'unit': 's'},
                        'op_ms.p50': {'value': p50, 'unit': 'ms'},
                        'op_ms.tail': {'value': p50 * 1.5, 'unit': 'ms'}},
            'layers': {'sched.jobs': 3.0} if trace else {}}


class CompareTool(unittest.TestCase):
    def runs(self, values, **kw):
        return {'w': {'untraced': [artifact('w', v, **kw) for v in values],
                      'traced': [artifact('w', values[0], trace=True)]}}

    def test_same_code_is_within(self):
        a = self.runs([100, 101, 99, 100, 102, 98, 100, 101, 99, 100])
        b = self.runs([101, 100, 99, 100, 102, 98, 101, 100, 99, 100])
        self.assertEqual(compare.compare(a, b, out=io.StringIO()), 'within')

    def test_slower_median_is_worse(self):
        a = self.runs([100, 101, 99, 100, 102])
        b = self.runs([130, 131, 129, 130, 132])
        self.assertEqual(compare.compare(a, b, out=io.StringIO()), 'worse')

    def test_wide_spread_is_unresolved(self):
        a = self.runs([100, 101, 99, 100, 102])
        b = self.runs([60, 100, 150, 80, 130])
        self.assertEqual(compare.compare(a, b, out=io.StringIO()), 'unresolved')

    def test_slower_setup_is_worse(self):
        a = self.runs([100, 101, 99, 100, 102], setup=20.0)
        b = self.runs([100, 101, 99, 100, 102], setup=30.0)
        self.assertEqual(compare.compare(a, b, out=io.StringIO()), 'worse')

    def test_constant_zero_is_within(self):
        self.assertEqual(compare.verdict([0.0] * 5, [0.0] * 5, 0.25, higher_better=False),
                         'within')

    def test_verdict_direction(self):
        self.assertEqual(compare.verdict([10] * 5, [5] * 5, 0.2, higher_better=False), 'better')
        self.assertEqual(compare.verdict([10] * 5, [5] * 5, 0.2, higher_better=True), 'worse')


if __name__ == '__main__':
    unittest.main()
