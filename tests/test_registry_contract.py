"""The registry enforces every op's declared params.

``register`` wraps each op so a config that breaks a declared
``required`` / ``allowed`` / ``min`` / ``max`` raises one ConfigError
naming the op and the param before the op body runs. These tests call
the wrapped functions with ``inputs=[]`` and no Spark session: the
check must fire before the body touches either.
"""

from __future__ import annotations

import pytest

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import (
    REGISTRY, OpContext, P, _ensure_loaded, as_list, config_errors, register,
    validate_config,
)

_ensure_loaded()

# no session: an op body that ran would fail on it, not raise ConfigError
_CTX = OpContext(spark=None)  # type: ignore[arg-type]


def _first_party():
    return sorted(
        (n, op) for n, op in REGISTRY.items()
        if (op.fn.__module__ or "").startswith("conveyor_spark") and op.params
    )


def _breaks():
    """(op, param, broken config) for every declared constraint: each
    config is the op's own valid example with exactly one param
    broken."""
    cases = []
    for name, op in _first_party():
        base = dict(op.example or ())
        for p in op.params:
            if p.required:
                cases.append((name, p.name, {k: v for k, v in base.items() if k != p.name}))
                cases.append((name, p.name, {**base, p.name: ""}))
            if p.allowed is not None:
                cases.append((name, p.name, {**base, p.name: "__not_allowed__"}))
            if p.min is not None:
                cases.append((name, p.name, {**base, p.name: p.min - 1}))
            if p.max is not None:
                cases.append((name, p.name, {**base, p.name: p.max + 1}))
    return cases


_CASES = _breaks()


def test_every_declared_constraint_has_a_case():
    ops = {name for name, _, _ in _CASES}
    declared = {
        name for name, op in _first_party()
        if any(p.required or p.allowed is not None or p.min is not None
               or p.max is not None for p in op.params)
    }
    assert ops == declared
    assert len(_CASES) > 400


@pytest.mark.parametrize("name", [n for n, _ in _first_party()])
def test_example_config_passes_the_check(name):
    op = REGISTRY[name]
    assert config_errors(op, dict(op.example or ())) == []


@pytest.mark.parametrize(
    "name,param,config", _CASES,
    ids=[f"{n}-{p}-{i}" for i, (n, p, _) in enumerate(_CASES)],
)
def test_broken_constraint_raises_before_the_body(name, param, config):
    with pytest.raises(ConfigError) as exc:
        REGISTRY[name].fn(_CTX, [], config)
    msg = str(exc.value)
    assert msg.startswith(f"{name}: "), msg
    assert repr(param) in msg, msg


def _toy(params):
    seen = []

    @register("__contract_toy__", kind="transform", params=params,
              example={})
    def toy(ctx, inputs, config):
        seen.append(config)
        return None

    REGISTRY.pop("__contract_toy__")
    return toy, seen


def test_missing_follows_the_not_x_idiom_minus_falsy_numbers():
    toy, seen = _toy([P("a", "any", required=True, desc="a")])
    for empty in (None, "", [], {}):
        with pytest.raises(ConfigError, match=r"__contract_toy__: missing required parameter 'a'"):
            toy(_CTX, [], {"a": empty})
    for value in (0, False, 0.0, "x", [1]):
        toy(_CTX, [], {"a": value})
    assert len(seen) == 5


def test_allowed_applies_whatever_the_type_and_range_to_numbers():
    toy, seen = _toy([
        P("mode", allowed=("a", "b"), desc="m"),
        P("n", "integer", min=1, max=3, desc="n"),
    ])
    for bad in ("A", 1, ["a"]):
        with pytest.raises(ConfigError, match="'mode'.*not in allowed values"):
            toy(_CTX, [], {"mode": bad})
    with pytest.raises(ConfigError, match=r"'n': 0 < min 1"):
        toy(_CTX, [], {"n": 0})
    with pytest.raises(ConfigError, match=r"'n': False < min 1"):
        toy(_CTX, [], {"n": False})
    with pytest.raises(ConfigError, match=r"'n': 4 > max 3"):
        toy(_CTX, [], {"n": 4})
    # a string is not a number: an op that int()s it checks it itself
    toy(_CTX, [], {"mode": "b", "n": "7"})
    assert len(seen) == 1


def test_aliases_pass_the_allowed_check():
    toy, seen = _toy([P("how", allowed=("full",), aliases=("outer",), desc="h")])
    toy(_CTX, [], {"how": "outer"})
    with pytest.raises(ConfigError, match="'how': 'OUTER' not in allowed values"):
        toy(_CTX, [], {"how": "OUTER"})
    assert len(seen) == 1


def test_all_problems_in_one_error_unknown_keys_only_warn():
    toy, seen = _toy([
        P("a", required=True, desc="a"),
        P("mode", allowed=("x",), desc="m"),
    ])
    with pytest.raises(ConfigError) as exc:
        toy(_CTX, [], {"mode": "y"})
    assert "'a'" in str(exc.value) and "'mode'" in str(exc.value)
    toy(_CTX, [], {"a": "v", "typo": 1})
    assert len(seen) == 1
    op = REGISTRY["json.read"]
    assert validate_config(op, {"path": "x", "typo": 1}) == [
        f"unknown parameter 'typo' (known: {sorted(p.name for p in op.params)})"
    ]


def test_wrapper_keeps_the_op_identity():
    op = REGISTRY["csv.read"]
    assert op.fn.__name__ == op.fn.__wrapped__.__name__
    assert op.fn.__module__ == "conveyor_spark.sources.csv"
    assert op.fn.__doc__ == op.fn.__wrapped__.__doc__


def test_as_list():
    assert as_list(None) == []
    assert as_list("c") == ["c"]
    assert as_list(("a", "b")) == ["a", "b"]


# ------------------------------------------- no op re-tests its metadata


def _config_read(node, env):
    """The param an expression reads as-is: ``config.get("p"[, d])``,
    ``config["p"]``, a name bound to one, or ``str(<that>).lower()``
    (the lower-cased value of an allowed-checked param is the value)."""
    import ast

    if isinstance(node, ast.Name):
        return env.get(node.id)
    if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr == "lower" and not node.args):
        inner = node.func.value
        if isinstance(inner, ast.Call) and getattr(inner.func, "id", None) == "str":
            inner = inner.args[0]
        return _config_read(inner, env)
    if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr == "get" and getattr(node.func.value, "id", None) == "config"
            and node.args and isinstance(node.args[0], ast.Constant)):
        return node.args[0].value
    if (isinstance(node, ast.Subscript) and getattr(node.value, "id", None) == "config"
            and isinstance(node.slice, ast.Constant)):
        return node.slice.value
    return None


def _duplicate(test, env, params, globals_):
    """True when ``if <test>: raise ConfigError`` rejects only configs
    the registry already rejects from ``params``."""
    import ast

    neg = isinstance(test, ast.UnaryOp) and isinstance(test.op, ast.Not)
    inner = test.operand if neg else test
    if neg and not isinstance(inner, ast.Compare):  # `not x`
        p = params.get(_config_read(inner, env))
        numeric = p is not None and p.type in ("integer", "float")
        return bool(p and p.required and (not numeric or (p.min or 0) > 0))
    if not isinstance(inner, ast.Compare) or len(inner.ops) != 1:
        return False
    op, (rhs,) = inner.ops[0], inner.comparators
    p = params.get(_config_read(inner.left, env))
    if p is None:
        return False
    if isinstance(op, ast.Is) and not neg:  # `x is None`
        return p.required and isinstance(rhs, ast.Constant) and rhs.value is None
    try:
        bound = ast.literal_eval(rhs)
    except ValueError:
        bound = globals_.get(getattr(rhs, "id", None))
    if isinstance(op, ast.NotIn) and not neg:
        return p.allowed is not None and bound is not None and set(p.allowed) <= set(bound)
    if not isinstance(bound, (int, float)) or isinstance(bound, bool):
        return False
    kind = type(op)
    if neg:  # `not x < n` rejects x >= n
        kind = {ast.Lt: ast.GtE, ast.LtE: ast.Gt, ast.Gt: ast.LtE, ast.GtE: ast.Lt}.get(kind)
    lo = p.min is not None and (
        (kind is ast.Lt and bound <= p.min) or (kind is ast.LtE and bound < p.min))
    hi = p.max is not None and (
        (kind is ast.Gt and bound >= p.max) or (kind is ast.GtE and bound > p.max))
    return lo or hi


def test_no_op_body_retests_a_declared_constraint():
    """An ``if <test on a config param>: raise ConfigError`` in an op
    body whose every ``or`` branch the registry check already rejects
    is dead code: delete it. A check stays when it is stricter (an
    open interval, a value after ``int(...)``, a cross-param rule)."""
    import ast
    import inspect
    import textwrap

    found = []
    for name, op in _first_party():
        fn = inspect.unwrap(op.fn)
        src, first = inspect.getsourcelines(fn)
        params = {p.name: p for p in op.params}
        env: dict[str, str] = {}
        tree = ast.parse(textwrap.dedent("".join(src)))
        nodes = (n for n in ast.walk(tree) if isinstance(n, (ast.Assign, ast.If)))
        for node in sorted(nodes, key=lambda n: n.lineno):
            if isinstance(node, ast.Assign):
                for t in node.targets:
                    if isinstance(t, ast.Name):
                        env.pop(t.id, None)
                        if (p := _config_read(node.value, env)) in params:
                            env[t.id] = p
                continue
            raises = any(
                isinstance(s, ast.Raise) and "ConfigError" in ast.unparse(s)
                for s in node.body
            )
            if not raises:
                continue
            parts = (node.test.values if isinstance(node.test, ast.BoolOp)
                     and isinstance(node.test.op, ast.Or) else [node.test])
            dup = [ast.unparse(t) for t in parts
                   if _duplicate(t, env, params, fn.__globals__)]
            if dup:
                found.append(f"{name} line {first + node.lineno - 1}: {dup}")
    assert not found, "op bodies re-test their declared params:\n" + "\n".join(found)
