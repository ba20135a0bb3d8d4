"""Strings from a query reach the plan as literals, never as SQL text.

The engine writes its structural expressions as SQL text, so every string a
query carries (matcher values and regexes, label names in by/without/on,
label_replace and count_values arguments) must stay a literal Column: a
quote, backslash, newline or regex metacharacter in one must neither break
the plan nor change its meaning. Label names that are also the names of the
engine's columns and lambda variables (`e`, `k`, `value`, `sig`) must not be
captured by them.
"""

from __future__ import annotations

import re

import pytest

from metric_store_release_spark.datamodel import SAMPLES_SCHEMA

MIN = 60_000
T = 10 * MIN

WEIRD = [
    "it's",
    'say "hi"',
    "back\\slash",
    "tick`tock",
    "paren)",
    "line\nbreak",
    "${x}",
    "ünïcødé ✓ 値",
    "a.b*c+?[x](y)|z^$",
]


def _quote(s: str) -> str:
    """A PromQL double-quoted string literal for `s`."""
    return '"' + s.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n") + '"'


@pytest.fixture(scope="module")
def samples(spark):
    rows = []
    for i, w in enumerate(WEIRD):
        labels = {"v": w, "e": f"g{i % 2}", "k": w, "value": "x", "sig": "s"}
        rows.append((T - MIN, "m", float(i + 1), labels, False))
        rows.append((T - MIN, "n", float(10 * (i + 1)), {"v": w, "unit": "u"}, False))
    df = spark.createDataFrame(rows, SAMPLES_SCHEMA)
    df.cache().count()
    return df


def _series(engine, samples, query: str) -> set[tuple]:
    out = engine.query_instant(samples, query, T).collect()
    return {(tuple(sorted((r["labels"] or {}).items())), r["value"]) for r in out}


def _m(i: int, **extra) -> tuple:
    labels = {
        "__name__": "m", "v": WEIRD[i], "e": f"g{i % 2}", "k": WEIRD[i],
        "value": "x", "sig": "s", **extra,
    }
    return tuple(sorted(labels.items())), float(i + 1)


@pytest.mark.parametrize("i", range(len(WEIRD)))
def test_equality_matchers(engine, samples, i):
    w = _quote(WEIRD[i])
    assert _series(engine, samples, f"m{{v={w}}}") == {_m(i)}
    others = {_m(j) for j in range(len(WEIRD)) if j != i}
    assert _series(engine, samples, f"m{{v!={w}}}") == others


@pytest.mark.parametrize("i", range(len(WEIRD)))
def test_regex_matchers(engine, samples, i):
    pattern = _quote(re.escape(WEIRD[i]))
    assert _series(engine, samples, f"m{{k=~{pattern}}}") == {_m(i)}
    others = {_m(j) for j in range(len(WEIRD)) if j != i}
    assert _series(engine, samples, f"m{{k!~{pattern}}}") == others


def test_metacharacters_stay_a_regex(engine, samples):
    """An unescaped pattern is a regex: `.` and `*` keep their meaning."""
    got = _series(engine, samples, 'm{v=~"a.b.*"}')
    assert got == {_m(WEIRD.index("a.b*c+?[x](y)|z^$"))}


def test_label_replace(engine, samples):
    got = _series(engine, samples, 'label_replace(m, "dst", "[$1]", "v", "(.*)")')
    # `.` matches no newline (RE2 and Java alike): that value keeps no dst
    want = {
        _m(i, dst=f"[{w}]") if "\n" not in w else _m(i)
        for i, w in enumerate(WEIRD)
    }
    assert {(tuple(x for x in ls if x[0] != "__name__"), v) for ls, v in got} == {
        (tuple(x for x in ls if x[0] != "__name__"), v) for ls, v in want
    }


@pytest.mark.parametrize("i", range(len(WEIRD)))
def test_label_replace_regex_argument(engine, samples, i):
    regex = _quote(re.escape(WEIRD[i]))
    got = _series(engine, samples, f'label_replace(m, "e", "hit", "k", {regex})')
    labels = dict(_m(i)[0])
    labels["e"] = "hit"
    assert (tuple(sorted(labels.items())), float(i + 1)) in got
    assert sum(dict(ls).get("e") == "hit" for ls, _ in got) == 1


def test_count_values(engine, samples):
    got = _series(engine, samples, 'count_values by (v) ("e", m)')
    want = {((("e", str(i + 1)), ("v", w)), 1.0) for i, w in enumerate(WEIRD)}
    assert got == want


@pytest.mark.parametrize("by", ["v", "e", "k", "value", "sig"])
def test_sum_by(engine, samples, by):
    got = _series(engine, samples, f"sum by ({by}) (m)")
    want: dict[tuple, float] = {}
    for i in range(len(WEIRD)):
        key = ((by, dict(_m(i)[0])[by]),)
        want[key] = want.get(key, 0.0) + i + 1
    assert got == set(want.items())


def test_sum_without(engine, samples):
    got = _series(engine, samples, "sum without (e, k, value, sig) (m)")
    assert got == {((("v", w),), float(i + 1)) for i, w in enumerate(WEIRD)}


def test_on_matching(engine, samples):
    got = _series(engine, samples, "n / on (v) m")
    assert got == {((("v", w),), 10.0) for w in WEIRD}
    got = _series(engine, samples, "m * on (v) group_left (unit) n")
    want = set()
    for i, w in enumerate(WEIRD):
        ls, v = _m(i, unit="u")
        want.add((tuple(x for x in ls if x[0] != "__name__"), v * 10 * (i + 1)))
    assert got == want


#: label values made of the pieces of RE2's named-group opener `(?P<`
GROUP_VALUES = ["P<x>", "(P<x>", "(?P<x>", "(", "?", "P", "x", "it's"]

#: RE2 regexes with named groups, and controls where `(?P<` opens no group
NAMED_GROUPS = [
    "(?P<g>it's)",
    "(?P<g>P)<(?P<h>x)>",
    "\\((?P<g>\\?)P<x>",
    "\\(?P<x>",  # an optional literal `(`, then "P<x>"
    "[(?P<x>]",  # one character of the class
]


@pytest.fixture(scope="module")
def groups(spark):
    rows = [(T - MIN, "g", 1.0, {"k": v}, False) for v in GROUP_VALUES]
    df = spark.createDataFrame(rows, SAMPLES_SCHEMA)
    df.cache().count()
    return df


@pytest.mark.parametrize("pattern", NAMED_GROUPS)
def test_named_group_matchers(engine, groups, pattern):
    """Python's `re` reads these patterns as RE2 does."""
    def matched(query):
        out = engine.query_instant(groups, query, T).collect()
        return {r["labels"]["k"] for r in out}

    want = {v for v in GROUP_VALUES if re.fullmatch(pattern, v)}
    assert want
    assert matched(f"g{{k=~{_quote(pattern)}}}") == want
    assert matched(f"g{{k!~{_quote(pattern)}}}") == set(GROUP_VALUES) - want


@pytest.mark.parametrize("pattern", NAMED_GROUPS)
def test_named_group_label_replace(engine, groups, pattern):
    query = f'label_replace(g, "dst", "<$1>", "k", {_quote(pattern)})'
    out = engine.query_instant(groups, query, T).collect()
    got = {r["labels"]["k"]: r["labels"].get("dst") for r in out}
    want = {}
    for v in GROUP_VALUES:
        m = re.fullmatch(pattern, v)
        want[v] = f"<{(m.group(1) if m.re.groups else None) or ''}>" if m else None
    assert got == want

