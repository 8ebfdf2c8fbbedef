"""Embedded micro-interpreter (py_ast.py): language surface,
sandbox-by-construction guarantees, and the py.eval engine='ast'
Spark path."""

from __future__ import annotations

import pytest

from conveyor_spark.transforms.py_ast import (
    SandboxViolation,
    StepBudgetExceeded,
    make_transform,
    validate_script,
)
from tests.conftest import run_op


def T(script, row):
    return make_transform(script)(row)


# -- language surface ------------------------------------------------

def test_arith_strings_collections():
    s = """
def transform(row):
    words = row['text'].lower().split()
    counts = {}
    for w in words:
        counts[w] = counts.get(w, 0) + 1
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    row['top_word'] = top[0][0] if top else None
    row['n_unique'] = len(counts)
    row['ratio'] = round(len(words) / max(1, len(set(words))), 3)
    return row
"""
    out = T(s, {"text": "a B a c b A"})
    assert out["top_word"] == "a" and out["n_unique"] == 3
    assert out["ratio"] == 2.0


def test_control_flow_and_helpers():
    s = """
def fib(n):
    a, b = 0, 1
    while n > 0:
        a, b = b, a + b
        n -= 1
    return a

def transform(row):
    row['fib'] = fib(row['n'])
    row['evens'] = [x * x for x in range(10) if x % 2 == 0]
    row['fstr'] = f"n={row['n']:03d}"
    return row
"""
    out = T(s, {"n": 10})
    assert out["fib"] == 55
    assert out["evens"] == [0, 4, 16, 36, 64]
    assert out["fstr"] == "n=010"


def test_none_return_drops_row_semantics():
    s = """
def transform(row):
    if row['x'] < 0:
        return None
    return row
"""
    fn = make_transform(s)
    assert fn({"x": -1}) is None
    assert fn({"x": 1}) == {"x": 1}


def test_recursion_and_defaults():
    s = """
def total(xs, acc=0):
    if not xs:
        return acc
    return total(xs[1:], acc + xs[0])

def transform(row):
    return {'t': total(row['xs'])}
"""
    assert T(s, {"xs": [1, 2, 3, 4]}) == {"t": 10}


# -- sandbox guarantees ----------------------------------------------

@pytest.mark.parametrize("script", [
    "import os\ndef transform(row):\n    return row",
    "def transform(row):\n    __import__('os')\n    return row",
    "def transform(row):\n    return row.__class__",
    "def transform(row):\n    return ''.format.__globals__",
    "class X:\n    pass\ndef transform(row):\n    return row",
    "def transform(row):\n    yield row",
    "def transform(row):\n    with open('x') as f:\n        pass",
    "def transform(row):\n    row.x = 1\n    return row",
])
def test_escape_vectors_rejected_at_parse(script):
    with pytest.raises(SandboxViolation):
        validate_script(script)


def test_dangerous_runtime_lookups_fail():
    # names that parse fine but resolve to nothing in the sandbox
    for name in ("open", "exec", "eval", "type", "vars", "globals",
                 "getattr", "setattr", "compile", "input", "breakpoint"):
        s = f"def transform(row):\n    return {name}"
        with pytest.raises(NameError):
            make_transform(s)({})
    with pytest.raises(NameError):
        make_transform("def transform(row):\n    open('/etc/passwd')")({})
    with pytest.raises(NameError):
        make_transform("def transform(row):\n    exec('1')")({})
    # str.format is excluded (its spec language does attribute access)
    s = "def transform(row):\n    return '{}'.format(1)"
    with pytest.raises(SandboxViolation, match="format"):
        make_transform(s)({})


def test_step_budget_kills_runaway():
    s = """
def transform(row):
    while True:
        pass
"""
    with pytest.raises(StepBudgetExceeded):
        make_transform(s, step_budget=10_000)({})
    s2 = """
def loop():
    return loop()

def transform(row):
    return loop()
"""
    with pytest.raises(StepBudgetExceeded):
        make_transform(s2)({})
    with pytest.raises(StepBudgetExceeded, match="power"):
        make_transform("def transform(row):\n    return 2 ** 10**6")({})


def test_c_speed_iterator_consumers_burn_budget():
    """Builtins that consume iterators at C speed must burn the step
    budget per element (ADVICE r7): sum(range(10**9)) used to run
    unbounded with step_budget=1000, and list/sorted/tuple/set over
    len-less iterators (zip, enumerate) evaded the __len__ bound."""
    bombs = [
        "return {'x': sum(range(10**9))}",
        "return {'x': min(range(10**9))}",
        "return {'x': max(range(10**9))}",
        "return {'x': all(range(1, 10**9))}",
        "return {'x': list(zip(range(10**9), range(10**9)))}",
        "return {'x': sorted(zip(range(10**9), range(10**9)))}",
        "return {'x': tuple(enumerate(range(10**9)))}",
        "return {'x': set(zip(range(10**9), range(10**9)))}",
        "return {'x': dict(zip(range(10**9), range(10**9)))}",
        # membership over a lazy iterator consumes it at C speed too
        "return {'x': (-1, -1) in zip(range(10**9), range(10**9))}",
        # starred arguments materialize the iterable into the call
        "return {'x': max(*range(10**9))}",
    ]
    for body in bombs:
        with pytest.raises(StepBudgetExceeded):
            make_transform(
                f"def transform(row):\n    {body}", step_budget=10_000
            )({})


def test_method_consumers_burn_budget():
    """Review finding: METHOD-shaped consumers (list.extend,
    set.union/issubset, dict.update) consumed lazy iterables at C
    speed with zero ticks, bypassing the budget exactly like the
    builtin consumers did."""
    bombs = [
        "x = []\n    x.extend(range(10**12))",
        "x = {1}\n    y = x.union(range(10**12))",
        "x = {1}\n    y = x.intersection(zip(range(10**12), range(10**12)))",
        "x = {1}\n    y = x.issubset(range(10**12))",
        "x = {}\n    x.update(zip(range(10**12), range(10**12)))",
    ]
    for body in bombs:
        with pytest.raises(StepBudgetExceeded):
            make_transform(
                f"def transform(row):\n    {body}\n    return row",
                step_budget=10_000,
            )({})
    # normal method use unaffected (incl. dict.update(mapping))
    s = """
def transform(row):
    x = [1]
    x.extend([2, 3])
    x.extend(range(3))
    d = {'a': 1}
    d.update({'b': 2})
    d.update(zip(['c'], [3]))
    u = {1, 2}.union([3], {4})
    ok = {1}.issubset([1, 2])
    return {'x': x, 'd': d, 'u': sorted(u), 'ok': ok}
"""
    out = make_transform(s, step_budget=5_000)({})
    assert out == {"x": [1, 2, 3, 0, 1, 2],
                   "d": {"a": 1, "b": 2, "c": 3},
                   "u": [1, 2, 3, 4], "ok": True}


def test_method_wrapper_kwargs_and_hijack(ctx=None):
    """Review cycle 2: the consumer wrapper must pass kwargs through
    (dict.update(a=1) is valid) and must NOT expose its captured
    method as a hijackable default parameter."""
    out = make_transform(
        "def transform(row):\n"
        "    d = {'x': 0}\n"
        "    d.update(a=1, b=2)\n"
        "    return d"
    )({})
    assert out == {"x": 0, "a": 1, "b": 2}
    # a '_b'/'_bound' keyword must land in the dict like any other
    # key, not replace the bound method
    out2 = make_transform(
        "def transform(row):\n"
        "    d = {}\n"
        "    d.update(_b=1, _bound=2)\n"
        "    return d"
    )({})
    assert out2 == {"_b": 1, "_bound": 2}
    # ...and the zfill guard takes no keywords at all now
    with pytest.raises(TypeError):
        make_transform(
            "def transform(row):\n"
            "    return {'x': '5'.zfill(3, _b=1)}"
        )({})


def test_kwarg_values_charge_operand_size():
    """ADVICE r9: linear/consuming wrappers charged only positional
    args — s.split(sep=big) scanned a large separator value per call
    with zero operand charge. Kwarg values now charge like
    positionals."""
    # keyword form must cost what the positional form costs: a TINY
    # receiver with a big keyword separator isolates the kwarg charge
    # (cost = len >> 6: sep alone is ~1000 steps/call, receiver ~0)
    bomb = """
def transform(row):
    s = 'a,b'
    sep = 'x' * 64000
    n = 0
    for i in range(500):
        n = n + len(s.split(sep=sep))
    return {'n': n}
"""
    with pytest.raises(StepBudgetExceeded):
        make_transform(bomb, step_budget=100_000)({})
    # normal keyword use unaffected
    ok = make_transform(
        "def transform(row):\n"
        "    return {'parts': 'a,b,c'.split(sep=','),\n"
        "            'one': 'a,b,c'.split(sep=',', maxsplit=1)}"
    )({})
    assert ok == {"parts": ["a", "b", "c"], "one": ["a", "b,c"]}


def test_chained_pow_bounded_by_base_size():
    """Chained ** evaded the exponent-only guard: (x**4096)**4096
    builds a multi-GB int in one op. The guard now bounds the
    RESULT's bit length like the Mult product guard."""
    s = ("def transform(row):\n"
         "    x = 10**300\n"
         "    x = x ** 4096\n"
         "    return {'x': x ** 4096}")
    with pytest.raises(StepBudgetExceeded, match="power"):
        make_transform(s)({})


def test_consumer_wrappers_allow_normal_work():
    s = """
def transform(row):
    vals = [3, 1, 2]
    row['s'] = sum(vals)
    row['mn'] = min(vals)
    row['mx'] = max(2, 7)
    row['srt'] = sorted(vals, reverse=True)
    row['d'] = dict(zip(['a', 'b'], vals))
    row['d2'] = dict(row['d'])
    row['t'] = tuple(reversed(vals))
    row['in'] = (1, 1) in zip(vals, vals)
    row['any'] = any(v > 2 for v in vals)
    row['star'] = max(*vals)
    row['sum2'] = sum(range(100), 5)
    row['mindef'] = min([], default=-1)
    return row
"""
    out = make_transform(s, step_budget=5_000)({})
    assert out["s"] == 6 and out["mn"] == 1 and out["mx"] == 7
    assert out["srt"] == [3, 2, 1]
    assert out["d"] == {"a": 3, "b": 1} and out["d2"] == out["d"]
    assert out["t"] == (2, 1, 3)
    assert out["in"] is True and out["any"] is True
    assert out["star"] == 3 and out["sum2"] == 4955
    assert out["mindef"] == -1


def test_budget_is_per_row():
    s = """
def transform(row):
    t = 0
    for i in range(200):
        t += i
    return {'t': t}
"""
    fn = make_transform(s, step_budget=2_000)
    for _ in range(20):  # would blow a cumulative budget
        assert fn({})["t"] == 19900


# -- Spark path ------------------------------------------------------

def test_py_eval_engine_ast(ctx, spark):
    df = spark.createDataFrame(
        [(1, "Alpha Beta"), (2, "gamma"), (3, None)],
        "id INT, text STRING",
    )
    s = """
def transform(row):
    if row['text'] is None:
        return None
    return {'id': row['id'], 'n_words': len(row['text'].split()),
            'upper': row['text'].upper()}
"""
    out = run_op(ctx, "py.eval", [df], script=s, engine="ast",
                 output_schema="id INT, n_words INT, upper STRING")
    got = {r["id"]: (r["n_words"], r["upper"]) for r in out.collect()}
    assert got == {1: (2, "ALPHA BETA"), 2: (1, "GAMMA")}


def test_py_eval_engine_ast_rejects_escape_on_driver(ctx, spark):
    df = spark.createDataFrame([(1,)], "id INT")
    with pytest.raises(SandboxViolation):
        run_op(ctx, "py.eval", [df], script="import os\ndef transform(row):\n    return row",
               engine="ast")


def test_py_eval_exec_untrusted_rejected(ctx, spark):
    from conveyor_spark.errors import ConfigError

    df = spark.createDataFrame([(1,)], "id INT")
    with pytest.raises(ConfigError, match="unsandboxed"):
        run_op(ctx, "py.eval", [df], script="def transform(row):\n    return row",
               engine="exec", trusted=False)


@pytest.mark.parametrize("script", [
    "def transform(row):\n    s = 'a'\n    for i in range(60):\n        s = s + s\n    return row",
    "def transform(row):\n    return {'x': [0] * 10**12}",
    "def transform(row):\n    return {'x': 'ab' * (10**10)}",
    "def transform(row):\n    x = 3\n    for i in range(60):\n        x = x * x\n    return row",
    "def transform(row):\n    return {'x': 1 << 10**9}",
    "def transform(row):\n    return {'x': list(range(10**12))}",
    "def transform(row):\n    return {'x': 'a'.zfill(10**10)}",
])
def test_memory_bombs_capped(script):
    """The step budget bounds time; these bound MEMORY — each script
    stays within the step budget while trying to build a multi-GB
    value, and must die on the size guards instead of OOMing."""
    with pytest.raises(StepBudgetExceeded):
        make_transform(script)({})


def test_size_guards_allow_normal_work():
    s = """
def transform(row):
    row['pad'] = str(row['x']).zfill(8)
    row['big'] = [0] * 1000
    row['sq'] = (10**6) * (10**6)
    return row
"""
    out = make_transform(s)({"x": 42})
    assert out["pad"] == "00000042" and len(out["big"]) == 1000
    assert out["sq"] == 10**12


# -- static column pruning -------------------------------------------

def test_referenced_columns_analysis():
    import ast as _ast

    from conveyor_spark.transforms.py_ast import referenced_columns

    def cols(src):
        return referenced_columns(_ast.parse(src))

    assert cols(
        "def transform(row):\n"
        "    return {'a': row['x'] + row.get('y', 0)}"
    ) == {"x", "y"}
    # `return row` passthrough stays analyzable
    assert cols(
        "def transform(row):\n    row['z'] = row['x']\n    return row"
    ) == {"x", "z"}
    # dynamic access patterns bail to None (keep everything)
    for src in [
        "def transform(row):\n    return {k: v for k, v in row.items()}",
        "def transform(row):\n    r = row\n    return {'a': r['x']}",
        "def transform(row):\n    k = 'x'\n    return {'a': row[k]}",
        "def transform(row):\n    return helper(row)",
        "def transform(row):\n    return {'a': 'x' in row}",
    ]:
        assert cols(src) is None


def test_py_eval_ast_prunes_scan_columns(ctx, spark, tmp_path, sf_dir):
    """The mapInPandas input must carry ONLY the columns the script
    reads + the output schema — visible in the parquet ReadSchema."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s = ("def transform(row):\n"
         "    return {'doc_id': row['doc_id'],"
         " 'n': len(row['text'].split())}\n")
    out = run_op(ctx, "py.eval", [d], script=s, engine="ast",
                 output_schema="doc_id BIGINT, n INT", widen=False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan
    assert out.count() == d.count()
    # passthrough `return row` keeps output-schema columns intact
    s2 = ("def transform(row):\n"
          "    row['flag'] = row['n_chars'] > 100\n"
          "    return row\n")
    out2 = run_op(ctx, "py.eval", [d], script=s2, engine="ast",
                  output_schema="doc_id BIGINT, lang STRING, flag BOOLEAN",
                  widen=False)
    r = out2.filter("doc_id = 1").first()
    exp = d.filter("doc_id = 1").first()
    assert r["lang"] == exp["lang"] and r["flag"] == (exp["n_chars"] > 100)


def test_format_spec_and_unpack_bombs_capped():
    with pytest.raises(StepBudgetExceeded, match="format width"):
        make_transform(
            "def transform(row):\n    return {'x': f'{5:>999999999}'}"
        )({})
    with pytest.raises(ValueError, match="unpacking"):
        make_transform(
            "def transform(row):\n    a, b = range(10**12)\n    return row"
        )({})
    # normal formatting and unpacking unaffected
    fn = make_transform(
        "def transform(row):\n"
        "    a, b = [1, 2]\n"
        "    return {'s': f'{a:>4}|{b:03d}'}"
    )
    assert fn({}) == {"s": "   1|002"}


def test_py_eval_unknown_engine_rejected(ctx, spark):
    from conveyor_spark.errors import ConfigError

    df = spark.createDataFrame([(1,)], "id INT")
    with pytest.raises(ConfigError, match="py.eval: parameter 'engine': 'astt' not in allowed values"):
        run_op(ctx, "py.eval", [df],
               script="def transform(row):\n    return row", engine="astt")
