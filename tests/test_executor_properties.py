"""Property-based END-TO-END fuzz of the query-language executor
(SURVEY §5c extended per round-4 verdict #10): random full chains —
init → filters → sort → page → aggregation — over the Modern people
fixture must agree with a naive Python evaluation of the same chain over
the same rows.  The filter grammar alone is already property-tested
(test_filter_properties); this covers the FOLD: builtin step composition,
slice-after-sort determinism, aggregation over pre-paged input — the
compiler edge cases no hand-written suite row enumerates."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from scalligraph_spark.qlang import QueryExecutor

ROWS = [
    {"person_id": 1, "name": "marko", "age": 29},
    {"person_id": 2, "name": "vadas", "age": 27},
    {"person_id": 4, "name": "josh", "age": 32},
    {"person_id": 6, "name": "peter", "age": 35},
]


@pytest.fixture(scope="module")
def executor(modern):
    ex = QueryExecutor(modern)
    ex.register_init("people", lambda g, s, a: g.V("person"))
    return ex


# -- chain strategy ------------------------------------------------------------

_AGES = st.integers(min_value=25, max_value=37)
_NAMES = st.sampled_from(["marko", "vadas", "josh", "peter", "nobody"])


def _filter_leaf():
    return st.one_of(
        st.builds(lambda v: {"_lt": {"_field": "age", "_value": v}}, _AGES),
        st.builds(lambda v: {"_gte": {"_field": "age", "_value": v}}, _AGES),
        st.builds(lambda v: {"_is": {"_field": "name", "_value": v}}, _NAMES),
        st.builds(lambda v: {"_ne": {"_field": "name", "_value": v}}, _NAMES),
        st.builds(
            lambda a, b: {"_between": {"_field": "age", "_from": min(a, b), "_to": max(a, b)}},
            _AGES,
            _AGES,
        ),
    )


def _filter_tree():
    leaf = _filter_leaf()
    return st.one_of(
        leaf,
        st.builds(lambda xs: {"_and": xs}, st.lists(leaf, min_size=1, max_size=2)),
        st.builds(lambda xs: {"_or": xs}, st.lists(leaf, min_size=1, max_size=2)),
        st.builds(lambda x: {"_not": x}, leaf),
    )


_SORT = st.lists(
    st.sampled_from(["+age", "-age", "+name", "-name"]), min_size=1, max_size=2
).map(lambda fs: fs + ["+person_id"])  # total order → page is deterministic

_PAGE = st.tuples(st.integers(0, 3), st.integers(1, 4)).map(
    lambda p: {"from": p[0], "to": p[0] + p[1]}
)

# top-level scalar aggs default their alias to <kind>_<field> — a "_name"
# key here would collide with the STEP name in the chain dict
_AGG = st.one_of(
    st.just({"_agg": "count"}),
    st.just({"_agg": "sum", "_field": "age"}),
    st.just({"_agg": "avg", "_field": "age"}),
    st.builds(
        lambda sel: {"_agg": "field", "_field": "name", "_select": sel},
        st.sampled_from(
            [
                [{"_agg": "count"}],
                [{"_agg": "count"}, {"_agg": "sum", "_field": "age", "_name": "sum_age"}],
            ]
        ),
    ),
)


@st.composite
def _chain(draw):
    steps: list[dict] = [{"_name": "people"}]
    for spec in draw(st.lists(_filter_tree(), max_size=2)):
        steps.append({"_name": "filter", **spec})
    sorted_ = draw(st.booleans())
    if sorted_:
        steps.append({"_name": "sort", "_fields": draw(_SORT)})
        if draw(st.booleans()):
            steps.append({"_name": "page", **draw(_PAGE)})
    if draw(st.booleans()):
        steps.append({"_name": "aggregation", **draw(_AGG)})
    elif draw(st.booleans()):
        steps.append({"_name": "count"})
    return steps


# -- naive Python evaluation ---------------------------------------------------


def _eval_filter(spec, row):
    op, body = next(iter(spec.items()))
    if op == "_and":
        return all(_eval_filter(s, row) for s in body)
    if op == "_or":
        return any(_eval_filter(s, row) for s in body)
    if op == "_not":
        return not _eval_filter(body, row)
    f, v = body["_field"], body.get("_value")
    if op == "_lt":
        return row[f] < v
    if op == "_gte":
        return row[f] >= v
    if op == "_is":
        return row[f] == v
    if op == "_ne":
        return row[f] != v
    if op == "_between":
        return body["_from"] <= row[f] < body["_to"]
    raise AssertionError(op)


def _eval_chain(chain):
    rows = [dict(r) for r in ROWS]
    mode = "rows"
    for step in chain:
        name = step["_name"]
        if name == "people":
            continue
        if name == "filter":
            spec = {k: v for k, v in step.items() if k != "_name"}
            rows = [r for r in rows if _eval_filter(spec, r)]
        elif name == "sort":
            for token in reversed(step["_fields"]):
                desc = token.startswith("-")
                key = token.lstrip("+-")
                rows.sort(key=lambda r: r[key], reverse=desc)
        elif name == "page":
            rows = rows[step["from"] : step["to"]]
        elif name == "count":
            return ("scalar", {"count": len(rows)})
        elif name == "aggregation":
            kind = step["_agg"]
            if kind == "count":
                return ("scalar", {"count": len(rows)})
            if kind == "sum":
                return ("scalar", {"sum_age": sum(r["age"] for r in rows) if rows else None})
            if kind == "avg":
                return (
                    "scalar",
                    {"avg_age": (sum(r["age"] for r in rows) / len(rows)) if rows else None},
                )
            if kind == "field":
                groups: dict = {}
                for r in rows:
                    g = groups.setdefault(r["name"], {"count": 0, "sum_age": 0})
                    g["count"] += 1
                    g["sum_age"] += r["age"]
                keep = {s.get("_name") or s["_agg"] for s in step["_select"]}
                return (
                    "groups",
                    {
                        k: {kk: vv for kk, vv in v.items() if kk in keep}
                        for k, v in groups.items()
                    },
                )
        else:
            raise AssertionError(name)
    return (mode, rows)


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(chain=_chain())
def test_random_chain_matches_naive_evaluator(executor, chain):
    kind, want = _eval_chain(chain)
    got_rows = [r.asDict() for r in executor.execute(chain).df.collect()]
    if kind == "scalar":
        assert len(got_rows) == 1
        (key, val) = next(iter(want.items()))
        got_val = got_rows[0][key]
        if val is None:
            assert got_val is None
        elif isinstance(val, float):
            assert got_val is not None and math.isclose(got_val, val, rel_tol=1e-9)
        else:
            assert got_val == val
    elif kind == "groups":
        got = {
            r["name"]: {k: v for k, v in r.items() if k != "name"} for r in got_rows
        }
        assert got == want
    else:
        got = [
            {"person_id": r["person_id"], "name": r["name"], "age": r["age"]}
            for r in got_rows
        ]
        sorted_chain = any(s["_name"] == "sort" for s in chain)
        if sorted_chain:
            assert got == want  # ORDER must match after an explicit sort
        else:
            key = lambda r: r["person_id"]  # noqa: E731
            assert sorted(got, key=key) == sorted(want, key=key)


# -- registered-step + row-policy fuzz (round-6 verdict #10) -------------------
#
# The round-5 regression lived in the fold's REGISTERED-step path (policy
# gating applied to registered inits/hops) — the strategy above never
# leaves builtin steps, so it could not have caught it.  This second fuzz
# drives random chains THROUGH a registered hop with a row policy on the
# hop's destination label, under all three auth postures.

SOFTWARE = [
    {"software_id": 3, "name": "lop", "lang": "java"},
    {"software_id": 5, "name": "ripple", "lang": "java"},
]
CREATED = [(1, 3), (4, 5), (4, 3), (6, 3)]  # (person_id, software_id) bag

_SEEN = {"hop": 0, "auth_granted": 0, "auth_denied": 0, "pre_filter": 0, "post_filter": 0}


@pytest.fixture(scope="module")
def hop_executor(modern):
    from pyspark.sql import functions as F

    ex = QueryExecutor(modern)
    ex.register_init("people", lambda g, s, a: g.V("person"))
    ex.register("created", "person", lambda t, s, a: t.out("created"))
    ex.register_row_policy(
        "software",
        lambda auth: (
            F.col("lang").isin([str(x) for x in auth["langs"]])
            if auth and "langs" in auth
            else F.lit(False)
        ),
    )
    return ex


_SOFT_NAMES = st.sampled_from(["lop", "ripple", "nobody"])
_AUTH = st.sampled_from([None, {}, {"langs": []}, {"langs": ["java"]}, {"langs": ["rust"]}])


def _soft_filter_leaf():
    return st.one_of(
        st.builds(lambda v: {"_is": {"_field": "name", "_value": v}}, _SOFT_NAMES),
        st.builds(lambda v: {"_ne": {"_field": "name", "_value": v}}, _SOFT_NAMES),
        st.builds(lambda v: {"_gte": {"_field": "software_id", "_value": v}}, st.integers(2, 6)),
    )


@st.composite
def _hop_chain(draw):
    steps: list[dict] = [{"_name": "people"}]
    for spec in draw(st.lists(_filter_tree(), max_size=1)):
        steps.append({"_name": "filter", **spec})
    steps.append({"_name": "created"})
    for spec in draw(st.lists(_soft_filter_leaf(), max_size=1)):
        steps.append({"_name": "filter", **spec})
    terminal = draw(st.sampled_from(["rows", "count", "group"]))
    if terminal == "count":
        steps.append({"_name": "count"})
    elif terminal == "group":
        steps.append(
            {"_name": "aggregation", "_agg": "field", "_field": "name",
             "_select": [{"_agg": "count"}]}
        )
    return steps, draw(_AUTH)


def _eval_hop_chain(chain, auth):
    people = [dict(r) for r in ROWS]
    visible_langs = set(auth["langs"]) if auth and "langs" in auth else set()
    soft = {s["software_id"]: s for s in SOFTWARE}
    # person-side filters precede the hop (the strategy only emits person
    # fields there)
    i = 1
    while i < len(chain) and chain[i]["_name"] == "filter":
        spec = {k: v for k, v in chain[i].items() if k != "_name"}
        people = [r for r in people if _eval_filter(spec, r)]
        i += 1
    # hop with policy: one software row per created edge, policy-gated
    rows = [
        dict(soft[d])
        for p in people
        for (s, d) in CREATED
        if s == p["person_id"] and soft[d]["lang"] in visible_langs
    ]
    i = next(j for j, s in enumerate(chain) if s["_name"] == "created") + 1
    for step in chain[i:]:
        name = step["_name"]
        if name == "filter":
            spec = {k: v for k, v in step.items() if k != "_name"}
            rows = [r for r in rows if _eval_filter(spec, r)]
        elif name == "count":
            return ("scalar", len(rows))
        elif name == "aggregation":
            groups: dict = {}
            for r in rows:
                groups[r["name"]] = groups.get(r["name"], 0) + 1
            return ("groups", groups)
    return ("rows", rows)


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(chain_auth=_hop_chain())
def test_registered_hop_with_row_policy_matches_naive(hop_executor, chain_auth):
    chain, auth = chain_auth
    _SEEN["hop"] += 1
    if auth and auth.get("langs"):
        _SEEN["auth_granted" if "java" in auth["langs"] else "auth_denied"] += 1
    else:
        _SEEN["auth_denied"] += 1
    hop_ix = next(i for i, s in enumerate(chain) if s["_name"] == "created")
    if any(s["_name"] == "filter" for s in chain[1:hop_ix]):
        _SEEN["pre_filter"] += 1
    if any(s["_name"] == "filter" for s in chain[hop_ix + 1 :]):
        _SEEN["post_filter"] += 1

    kind, want = _eval_hop_chain(chain, auth)
    got_rows = [r.asDict() for r in hop_executor.execute(chain, auth=auth).df.collect()]
    if kind == "scalar":
        assert len(got_rows) == 1 and got_rows[0]["count"] == want
    elif kind == "groups":
        assert {r["name"]: r["count"] for r in got_rows} == want
    else:
        got = sorted(
            (r["software_id"], r["name"], r["lang"]) for r in got_rows
        )
        assert got == sorted((r["software_id"], r["name"], r["lang"]) for r in want)


@pytest.mark.stat_of("test_registered_hop_with_row_policy_matches_naive")
def test_generator_emitted_registered_and_policy_paths():
    """Stat assertion (verdict #10 'provably emits'): the fuzz above ran
    registered hops in every example and exercised both auth postures
    and both filter positions across the run."""
    assert _SEEN["hop"] >= 40
    assert _SEEN["auth_granted"] > 0 and _SEEN["auth_denied"] > 0
    assert _SEEN["pre_filter"] > 0 and _SEEN["post_filter"] > 0


# -- malformed-chain robustness ------------------------------------------------


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(garbage=st.recursive(
    st.one_of(st.none(), st.booleans(), st.integers(), st.text(max_size=8)),
    lambda inner: st.one_of(
        st.lists(inner, max_size=3),
        st.dictionaries(st.sampled_from(["_name", "_agg", "_field", "from", "to", "x"]), inner, max_size=4),
    ),
    max_leaves=8,
))
def test_malformed_chains_fail_cleanly(executor, garbage):
    """Garbage chains must surface as clean ValueError/KeyError/TypeError
    from the parse/validate tier — never an opaque Py4J/analysis blowup
    from deep inside a launched Spark job, and never a silent empty
    result for structurally invalid input."""
    chain = garbage if isinstance(garbage, list) else [garbage]
    try:
        t = executor.execute(chain)
        # a chain that somehow parses must still be a real traversal
        assert t.df is not None
    except (ValueError, KeyError, TypeError, AttributeError):
        pass  # the clean, documented failure modes


# -- HAVING composition + dialogue chain fuzz (round-7 verdict #8) -------------
#
# The round-6 additions live in two fold paths the strategies above never
# reach: post-aggregation builtin steps (filter/sort AFTER `aggregation` —
# the HAVING composition, which compiles against the grouped relation) and
# the registered dialogue chain (turns → turnDedup → assembleDialogues).
# Both fuzz against a naive Python replay.

_SEEN7 = {"having_filter": 0, "having_sort": 0, "dedup_corpus": 0,
          "dedup_conversation": 0, "drop_dups": 0, "assemble": 0}

_HAVING_AGG = st.sampled_from([
    [{"_agg": "count"}],
    [{"_agg": "count"}, {"_agg": "sum", "_field": "age", "_name": "sum_age"}],
])


@st.composite
def _having_chain(draw):
    chain = [
        {"_name": "people"},
        {"_name": "aggregation", "_agg": "field", "_field": "name",
         "_select": draw(_HAVING_AGG)},
    ]
    op = draw(st.sampled_from(["_gte", "_lt"]))
    chain.append({"_name": "filter", op: {"_field": "count", "_value": draw(st.integers(0, 3))}})
    if draw(st.booleans()):
        chain.append({"_name": "sort", "_fields": draw(st.sampled_from(
            [["-count", "+name"], ["+count", "+name"], ["+name"]]
        ))})
    return chain


def _eval_having(chain):
    groups: dict = {}
    for r in ROWS:
        g = groups.setdefault(r["name"], {"name": r["name"], "count": 0, "sum_age": 0})
        g["count"] += 1
        g["sum_age"] += r["age"]
    select = chain[1]["_select"]
    keep = {"name"} | {s.get("_name") or s["_agg"] for s in select}
    rows = [{k: v for k, v in g.items() if k in keep} for g in groups.values()]
    ordered = False
    for step in chain[2:]:
        if step["_name"] == "filter":
            op, body = next(iter((k, v) for k, v in step.items() if k != "_name"))
            f, v = body["_field"], body["_value"]
            rows = [r for r in rows if (r[f] >= v if op == "_gte" else r[f] < v)]
        elif step["_name"] == "sort":
            ordered = True
            for token in reversed(step["_fields"]):
                rows.sort(key=lambda r: r[token.lstrip("+-")], reverse=token.startswith("-"))
    return rows, ordered


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(chain=_having_chain())
def test_having_composition_matches_naive(executor, chain):
    _SEEN7["having_filter"] += 1
    if any(s["_name"] == "sort" for s in chain):
        _SEEN7["having_sort"] += 1
    want, ordered = _eval_having(chain)
    got = [r.asDict() for r in executor.execute(chain).df.collect()]
    if ordered:
        assert got == want
    else:
        key = lambda r: r["name"]  # noqa: E731
        assert sorted(got, key=key) == sorted(want, key=key)


# dialogue chain: random turn tables with forced text collisions ---------------

_TEXTS = st.sampled_from(["hello", "thanks!", "sure", "tell me more", "bye"])
_TURN_ROW = st.tuples(st.integers(0, 2), st.integers(0, 4),
                      st.sampled_from(["user", "assistant"]), _TEXTS)


@st.composite
def _dialogue_case(draw):
    rows = draw(st.lists(_TURN_ROW, min_size=1, max_size=12,
                         unique_by=lambda r: (r[0], r[1])))
    scope = draw(st.sampled_from(["corpus", "conversation"]))
    by_role = draw(st.booleans())
    drop = draw(st.booleans())
    assemble = draw(st.booleans())
    chain = [{"_name": "turns"},
             {"_name": "turnDedup", "scope": scope, "byRole": by_role, "dropDups": drop}]
    if assemble:
        chain.append({"_name": "assembleDialogues"})
    return rows, chain


def _eval_dialogue(rows, chain):
    step = chain[1]
    groups: dict = {}
    for conv, turn, role, text in rows:
        key = (text,) + ((role,) if step["byRole"] else ()) + (
            (conv,) if step["scope"] == "conversation" else ())
        groups.setdefault(key, []).append((conv, turn))
    first = {k: min(v) for k, v in groups.items()}
    out = []
    for conv, turn, role, text in rows:
        key = (text,) + ((role,) if step["byRole"] else ()) + (
            (conv,) if step["scope"] == "conversation" else ())
        dup = len(groups[key]) > 1 and (conv, turn) != first[key]
        out.append({"conv_id": conv, "turn_no": turn, "role": role, "text": text,
                    "is_dup_turn": dup,
                    "first_conv_id": first[key][0], "first_turn_no": first[key][1]})
    if step.get("dropDups"):
        out = [r for r in out if not r["is_dup_turn"]]
        for r in out:
            r.pop("is_dup_turn"); r.pop("first_conv_id"); r.pop("first_turn_no")
    if len(chain) > 2:  # assembleDialogues
        convs: dict = {}
        for r in out:
            convs.setdefault(r["conv_id"], []).append((r["turn_no"], r["role"], r["text"]))
        return [
            {"conv_id": c, "n_turns": len(ts),
             "dialogue": "\n".join(f"{r}: {t}" for _, r, t in sorted(ts))}
            for c, ts in convs.items()
        ]
    return out


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(case=_dialogue_case())
def test_dialogue_chain_matches_naive(spark, modern, case):
    from pyspark.sql import functions as F

    from scalligraph_spark.operators import assemble_dialogues, turn_dedup
    from scalligraph_spark.traversal import Traversal

    rows, chain = case
    step = chain[1]
    _SEEN7[f"dedup_{step['scope']}"] += 1
    if step["dropDups"]:
        _SEEN7["drop_dups"] += 1
    if len(chain) > 2:
        _SEEN7["assemble"] += 1

    turns = spark.createDataFrame(rows, "conv_id long, turn_no long, role string, text string")
    ex = QueryExecutor(modern)
    ex.register_init("turns", lambda g, s, a: Traversal(turns, catalog=g, label="turns"))

    def _dedup(t, s, a):
        out = turn_dedup(t.df, scope=str(s["scope"]), by_role=bool(s["byRole"]))
        if s.get("dropDups"):
            out = out.where(~F.col("is_dup_turn")).drop(
                "is_dup_turn", "first_conv_id", "first_turn_no")
        return t._with(out, label="turns")

    ex.register("turnDedup", "turns", _dedup)
    ex.register("assembleDialogues", "turns",
                lambda t, s, a: t._with(assemble_dialogues(t.df), label=None))

    want = _eval_dialogue(rows, chain)
    got = [r.asDict() for r in ex.execute(chain).df.collect()]
    key = lambda r: tuple(sorted(r.items()))  # noqa: E731
    assert sorted(got, key=key) == sorted(want, key=key)


@pytest.mark.stat_of("test_having_composition_matches_naive", "test_dialogue_chain_matches_naive")
def test_generator_emitted_having_and_dialogue_paths():
    """Stat assertion: the round-7 fuzz exercised post-agg filters, the
    post-agg sort branch, both dedup scopes, the dropDups path, and the
    assemble step across the run."""
    assert _SEEN7["having_filter"] >= 30
    assert _SEEN7["having_sort"] > 0
    assert _SEEN7["dedup_corpus"] > 0 and _SEEN7["dedup_conversation"] > 0
    assert _SEEN7["drop_dups"] > 0 and _SEEN7["assemble"] > 0
