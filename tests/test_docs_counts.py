"""README/ARCHITECTURE must state the registry's actual size — stale
counts were flagged in two consecutive round verdicts, so the claim is
now asserted against the live registry."""

from __future__ import annotations

import os
import re

from weatherflow_spark.plans import ORACLES, QUERIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_doc_counts_match_registry():
    nq, no = len(QUERIES), len(ORACLES)
    readme = open(os.path.join(REPO, "README.md")).read()
    arch = open(os.path.join(REPO, "ARCHITECTURE.md")).read()
    assert f"({nq} queries, {no} hash-matched" in readme, (
        f"README query counts stale (registry is {nq}/{no})"
    )
    assert f"{nq} registered queries; {no} hash-checked" in arch, (
        f"ARCHITECTURE query counts stale (registry is {nq}/{no})"
    )


def test_python_boundary_claim_matches_registry():
    """ARCHITECTURE's determinism-contract section lists exactly
    which certified queries cross the Python boundary — the list
    drifted in round 6, so it is now parsed from the doc and checked:
    the count word must agree with the number of listed names and
    every listed name must be a registered query. (Plan-level
    Python-node detection for the full registry is the per-query
    audit suite's job.)"""
    import re

    arch = open(os.path.join(REPO, "ARCHITECTURE.md")).read()
    m = re.search(r"\*\*Python boundary\*\*: only (\w+) queries cross it \(([^)]+)\)", arch)
    assert m, "Python-boundary claim sentence missing/reworded"
    word, names_blob = m.groups()
    names = sorted(re.findall(r"`(q_\w+)`", names_blob))
    words = {2: "two", 3: "three", 4: "four", 5: "five", 6: "six", 7: "seven"}
    assert word == words.get(len(names)), (
        f"count word '{word}' disagrees with {len(names)} listed names"
    )
    for n in names:
        assert n in QUERIES, f"claimed boundary query {n} not registered"


def test_certification_tier_claims_match_window():
    """r9 (VERDICT r8 'Next round' #7): every SURVEY §2 certification
    claim must match reality — a query described as 'driver-certified'
    or as having a 'driver window row' must actually sit in the
    registry's first-50 certified prefix (directly or via the cited
    suite), and every backticked q_* name in SURVEY must be a
    registered query. This is the audit that makes the r8 mislabel
    (tail queries documented as driver-certified) structurally
    impossible to reintroduce."""
    import re

    window = set(list(QUERIES)[:50])
    survey = open(os.path.join(REPO, "SURVEY.md")).read()

    for q in set(re.findall(r"`(q_\w+)`", survey)):
        assert q in QUERIES, f"SURVEY cites unregistered query {q}"

    claims = re.findall(
        r"(driver-certified by|driver window row via)((?:[^|\n])*)", survey
    )
    assert claims, "SURVEY certification phrasing changed — update audit"
    for verb, blob in claims:
        names = re.findall(r"`(q_\w+)`", blob)
        assert names, f"claim '{verb}{blob[:60]}' cites no query"
        in_window = [n for n in names if n in window]
        assert in_window, (
            f"SURVEY claims '{verb}' citing only tail queries {names} — "
            "either rotate one into the window or reword the tier"
        )

    # The phrase 'driver-certified' must never be attached to a line
    # whose ONLY cited queries are tail entries (checked above); also
    # make sure no line claims a 'driver row' bare, without citing any
    # query at all that this audit could check.
    for line in survey.splitlines():
        if "driver-certified" in line or "driver window row" in line:
            names = re.findall(r"`(q_\w+)`", line)
            assert any(n in window for n in names), (
                f"tier claim without a window query on line: {line[:100]}"
            )


def test_every_engine_module_is_cited_in_survey():
    """r10 (VERDICT r9 'Next round' #2): the REVERSE doc audit. The r9
    snapshot-log operator shipped with zero SURVEY presence because the
    existing audits only validate claims that exist — this one asserts
    every non-init module under the engine's operator-bearing packages
    is cited somewhere in SURVEY (as ``pkg/mod.py``, ``pkg/mod``, or
    the bare ``mod.py``), so an undocumented surface can never ship
    again."""
    survey = open(os.path.join(REPO, "SURVEY.md")).read()
    packages = [
        "operators",
        "plans",
        "multimodal",
        "streaming",
        "sources",
        "functions",
    ]
    missing = []
    for pkg in packages:
        d = os.path.join(REPO, "weatherflow_spark", pkg)
        if not os.path.isdir(d):
            continue
        for f in sorted(os.listdir(d)):
            if not f.endswith(".py") or f == "__init__.py":
                continue
            mod = f[:-3]
            forms = (f"{pkg}/{mod}.py", f"{pkg}/{mod}", f"{mod}.py")
            if not any(x in survey for x in forms):
                missing.append(f"{pkg}/{mod}")
    assert not missing, (
        "engine modules with no SURVEY citation (add a §2 row or cite "
        f"them in the owning row): {missing}"
    )


# Engine modules whose comments or docstrings still carry round or
# experiment tags. ROADMAP item 7 moves that history into CHANGES.md
# module by module; a cleaned module leaves this list, and the item is
# done when the list is empty.
STILL_TAGGED = {
    "curate.py",
    "io.py",
    "jobs.py",
    "operators/indexing.py",
    "operators/ivm.py",
    "operators/sig_index.py",
    "operators/vec_index.py",
    "operators/zorder.py",
    "plans/__init__.py",
    "plans/analytics.py",
    "plans/ext_dedup.py",
    "plans/ext_mining.py",
    "plans/ext_similarity.py",
    "plans/ext_text.py",
    "plans/ext_udf.py",
    "plans/graph.py",
    "plans/iterative.py",
    "plans/quality.py",
    "plans/relational.py",
    "plans/serving.py",
    "plans/sketches.py",
    "plans/stats.py",
    "plans/timeseries.py",
    "plans/tpch.py",
    "plans/tpch_ext.py",
    "plans/tpch_ps.py",
    "sources/stream_bus.py",
    "sql.py",
    "streaming/pipeline.py",
}

# Round numbers (r12, r12.2), experiment ids (E97) and the words the
# round notes were filed under.
_ROUND_TAG = re.compile(
    r"\b(?:r\d{1,2}(?:\.\d+)?|E\d{2,3})\b|(?i:verdict|\breview\b|\badvice\b)"
)


def _prose_lines(src: str) -> list[str]:
    """Every comment and every module/class/function docstring line;
    lint pragmas (``# noqa: E731``) are not prose."""
    import ast
    import io
    import tokenize

    out = [
        re.sub(r"noqa:[\w, ]*", "", tok.string)
        for tok in tokenize.generate_tokens(io.StringIO(src).readline)
        if tok.type == tokenize.COMMENT
    ]
    for node in ast.walk(ast.parse(src)):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            doc = ast.get_docstring(node, clean=False)
            if doc:
                out.extend(doc.splitlines())
    return out


def test_round_tags_only_shrink():
    """A module off STILL_TAGGED (every new module, too) carries no
    round or experiment tag in its comments or docstrings, and a module
    on it still carries one — so the list can only shrink."""
    root = os.path.join(REPO, "weatherflow_spark")
    tagged = set()
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                if any(_ROUND_TAG.search(x) for x in _prose_lines(open(p).read())):
                    tagged.add(os.path.relpath(p, root).replace(os.sep, "/"))
    assert not tagged - STILL_TAGGED, (
        f"round/experiment tags in {sorted(tagged - STILL_TAGGED)}: say what "
        "the code does and why, and put the history in CHANGES.md"
    )
    assert not STILL_TAGGED - tagged, (
        f"{sorted(STILL_TAGGED - tagged)} no longer carry tags: take them "
        "off STILL_TAGGED"
    )
