"""Registry contract for __spark_entry__ — pure Python, no Spark.

A gate is declared once, as a module-level ``q_<name>`` callable;
``queries()`` collects them and ``oracle_sql()`` pairs each with the
``oracles.<NAME>`` constant, raising for a gate that has none unless it
is in ``ROWS_ONLY``. These tests pin that rule, the gate signature, and
that every gate name written as a free string elsewhere (bench tables,
pytest gate lists) names a registered gate.
"""

from __future__ import annotations

import inspect

import pytest

import __spark_entry__ as E
import bench
from test_extract_gates import GATES


def test_every_gate_has_an_oracle_except_rows_only():
    assert len(E.queries()) == 274
    assert set(E.queries()) - set(E.oracle_sql()) == E.ROWS_ONLY


def test_gate_without_oracle_constant_raises(monkeypatch):
    monkeypatch.setattr(E, "q_probe", lambda spark, sf_dir: None,
                        raising=False)
    assert "probe" in E.queries()
    with pytest.raises(LookupError, match="probe"):
        E.oracle_sql()


def test_gate_names_outside_the_registry_are_registered():
    registry = set(E.queries())
    # extract_synth is bench.py's own extraction timing, not a gate
    named = {
        "bench.BENCH_QUERIES": set(bench.BENCH_QUERIES),
        "bench.R3_SHARED": set(bench.R3_SHARED) - {"extract_synth"},
        "bench.SHARED_CORPUS": set(bench.SHARED_CORPUS),
        "test_extract_gates.GATES": set(GATES),
    }
    unknown = {k: sorted(v - registry) for k, v in named.items()
               if v - registry}
    assert not unknown, unknown
    assert set(bench.SHARED_CORPUS.values()) <= set(bench.corpus_builders())


def test_query_callables_accept_spark_and_sf_dir():
    for name, fn in E.queries().items():
        params = list(inspect.signature(fn).parameters.values())
        assert len(params) >= 2, name
        extra = params[2:]
        assert all(p.default is not inspect.Parameter.empty
                   for p in extra), (
            f"{name}: positional params beyond (spark, sf_dir)")


def test_oracle_sql_strings_are_plain_selects():
    for name, sql in E.oracle_sql().items():
        head = sql.strip().split(None, 1)[0].upper()
        assert head in ("SELECT", "WITH"), (name, head)
