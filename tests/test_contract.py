"""Driver-contract invariants: SURVEY §2 and __spark_entry__ must
stay in lockstep (the coverage checklist is graded line by line)."""

from __future__ import annotations

import re

import __spark_entry__ as entrymod


def test_survey_covers_every_query():
    surv = open("SURVEY.md").read()
    in_survey = set(re.findall(r"^\| `([a-z0-9_]+)` \|", surv, re.M))
    qkeys = set(entrymod.queries())
    missing = qkeys - in_survey
    assert not missing, f"queries missing from SURVEY §2: {sorted(missing)}"


def test_every_oracle_key_has_a_query():
    assert set(entrymod.oracle_sql()) <= set(entrymod.queries())


def test_rows_only_queries_are_documented():
    surv = open("SURVEY.md").read()
    rows_only = set(entrymod.queries()) - set(entrymod.oracle_sql())
    for k in rows_only:
        # the §2 TABLE ROW for the key, not any prose mention
        line = next(
            (ln for ln in surv.splitlines() if ln.startswith(f"| `{k}` |")), ""
        )
        assert line, f"{k} has no SURVEY §2 table row"
        assert "rows-only" in line, f"{k} lacks a rows-only annotation in SURVEY §2"


def test_driver_evidence_staleness():
    """r11 verdict item 3: the r7-evidence cohort went four rounds
    stale silently. Every queries() key must either have a driver row
    at most MAX_AGE rounds older than the newest CORRECTNESS artifact,
    or sit inside the committed next window (plans._GRADE_ORDER) so
    fresh evidence is already scheduled."""
    import glob
    import json

    from stock_data_project_spark.plans import _GRADE_ORDER, STAGED_DEBUTS

    latest: dict[str, int] = {}
    rounds = []
    for p in sorted(glob.glob("CORRECTNESS_r*.json")):
        r = int(re.search(r"r(\d+)", p).group(1))
        rounds.append(r)
        for k in json.load(open(p)):
            latest[k] = r
    if not rounds:  # fresh clone without driver artifacts
        return
    newest = max(rounds)
    MAX_AGE = 4  # a key graded r8 is acceptable while r12 is newest
    window = set(_GRADE_ORDER)
    offenders = sorted(
        k
        for k in entrymod.queries()
        if k not in window
        and (
            # never graded: must be an explicitly declared staged
            # debut for the next window
            k not in STAGED_DEBUTS
            if k not in latest
            else newest - latest[k] > MAX_AGE
        )
    )
    assert not offenders, (
        f"driver evidence older than {MAX_AGE} rounds (or never-graded "
        f"without a STAGED_DEBUTS declaration) and not in the committed "
        f"window: {offenders}"
    )
    # a staged debut that already has evidence is a stale declaration
    stale_staged = sorted(STAGED_DEBUTS & set(latest))
    assert not stale_staged, (
        f"STAGED_DEBUTS keys already driver-graded (rotate them into "
        f"_GRADE_ORDER and drop the declaration): {stale_staged}"
    )


def test_every_graded_survey_row_has_a_query():
    """Tightened r11 invariant (r10 verdict item 4): §2 graded-key
    rows == queries() EXACTLY — a graded-format row (backticked key,
    no ``(lib)`` prefix) with no queries() entry is either a stale
    row or an ungradeable key that must be re-annotated ``(lib)``."""
    surv = open("SURVEY.md").read()
    in_survey = set(re.findall(r"^\| `([a-z0-9_]+)` \|", surv, re.M))
    qkeys = set(entrymod.queries())
    stale = in_survey - qkeys
    assert not stale, f"SURVEY §2 graded rows without a query: {sorted(stale)}"


def test_commit_and_drop_feed_live_in_one_module():
    """Rules CLAUDE.md states in prose, enforced on the package
    sources: every atomic rename / symlink swap is the epoch commit of
    ``sources/commit.py`` (one pointer reader, one writer, one
    loud-failure rule), and every one-file-per-micro-batch drop stream
    is built by ``streaming/feeder.py`` (multi-drop scenarios run as
    ONE long-lived query)."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "stock_data_project_spark"
    assert (pkg / "__init__.py").is_file(), pkg
    homes = {
        r"\bos\.(rename|replace|symlink)\b": "sources/commit.py",
        r"maxFilesPerTrigger": "streaming/feeder.py",
    }
    offenders = sorted(
        f"{path.relative_to(pkg).as_posix()}: {pattern}"
        for path in pkg.rglob("*.py")
        for pattern, home in homes.items()
        if path.relative_to(pkg).as_posix() != home
        and re.search(pattern, path.read_text())
    )
    assert not offenders, offenders


# (importer, source, name) for every `from <package module> import
# _name` still in the package, relative to the package root. The list
# may only shrink: a new private import across modules fails, and so
# does an entry whose import is gone. A shared helper becomes a public
# name in the operator module whose Spark code it mirrors.
_PRIVATE_IMPORTS_LEFT = sorted(
    [
        ("operators.ivfpq", "operators.ivf", "_centroids_np"),
        ("operators.ivfpq", "operators.pq", "_codebook_np"),
        ("plans.llm_next14", "plans.llm_next7", "_fan_out"),
        ("plans.llm_next15", "operators.nndescent", "_SALT_A"),
        ("plans.llm_next15", "operators.nndescent", "_SALT_B"),
        ("plans.llm_next16", "plans.llm", "_NORM"),
        ("plans.llm_next16", "plans.llm_next9", "_HEX"),
        ("plans.llm_next16", "plans.llm_next9", "_WMOD"),
        ("plans.llm_next16", "plans.llm_next9", "_WMUL"),
        ("plans.llm_next16", "plans.llm_next7", "_fan_out"),
        ("plans.llm_next6", "plans.llm", "_NORM"),
        ("plans.llm_next6", "plans.llm_next7", "_fan_out"),
        ("plans.llm_next6", "plans.llm_next7", "_fan_out"),
        ("plans.llm_next7", "operators.phash", "_CUT_BASE"),
        ("plans.llm_next7", "operators.phash", "_CUT_SPAN"),
        ("plans.llm_next8", "plans.llm", "_NORM"),
        ("plans.llm_next9", "plans.llm", "_NORM"),
        ("plans.llm_next9", "plans.llm_next6", "_TOPK"),
        ("plans.llm_next9", "plans.llm_next7", "_fan_out"),
        ("plans.llm_next9", "plans.llm_next6", "_TFIDF_SQL"),
        ("plans.stream_next12", "operators.dedup", "_NEUTRAL_PERM_SALTS"),
        ("plans.stream_next12", "plans.llm_next14", "_TOKEN_SPLIT_SQL"),
        ("plans.stream_next2", "streaming.pipeline", "_LATE_MOD"),
        ("plans.stream_next8", "streaming.pipeline", "_run_to_memory"),
        ("plans.stream_next9", "streaming.pipeline", "_run_to_memory"),
    ]
)


def _package_imports():
    """(importer, source, names) for every import of a package module
    inside the package, both relative to the package root; scanned
    with ``ast``."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "stock_data_project_spark"
    for path in pkg.rglob("*.py"):
        parts = path.relative_to(pkg).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        importer = ".".join(parts)
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.startswith("stock_data_project_spark."):
                        yield importer, a.name.split(".", 1)[1], []
                continue
            if not isinstance(node, ast.ImportFrom):
                continue
            if node.level:  # relative: resolve against the importer
                base = list(parts if path.stem == "__init__" else parts[:-1])
                base = base[: len(base) - (node.level - 1)]
                source = ".".join(base + ([node.module] if node.module else []))
            elif (node.module or "").startswith("stock_data_project_spark"):
                source = node.module.removeprefix("stock_data_project_spark")
                source = source.lstrip(".")
            else:
                continue
            yield importer, source, [a.name for a in node.names]


def test_no_private_imports_across_modules():
    """CLAUDE.md rule: no module imports another module's private
    (``_``-prefixed) name. The remaining offenders are the pinned list
    above."""
    found = [
        (importer, source, name)
        for importer, source, names in _package_imports()
        for name in names
        if name.startswith("_") and not name.startswith("__") and source != importer
    ]
    new = sorted(set(found) - set(_PRIVATE_IMPORTS_LEFT))
    assert not new, f"private names imported across modules: {new}"
    assert sorted(found) == _PRIVATE_IMPORTS_LEFT, (
        "the pinned list is stale — drop the entries whose import is gone"
    )


def test_only_plans_import_plans():
    """CLAUDE.md rule: plans sit on top of the operator and streaming
    layers, never beneath them — no package module outside ``plans/``
    imports ``stock_data_project_spark.plans``. A helper two layers
    share lives in the lower one (``operators/sketches
    .histogram_quantiles`` serves a plan and a streaming operator)."""
    offenders = sorted(
        {
            f"{importer} imports {source or 'plans'}"
            for importer, source, names in _package_imports()
            if not importer.startswith("plans")
            and (
                source == "plans"
                or source.startswith("plans.")
                or (source == "" and "plans" in names)
            )
        }
    )
    assert not offenders, offenders


# Round-numbered plan modules (``*_next<N>.py``) still to fold into
# domain modules. The list may only shrink: a new round-numbered module
# fails, and so does an entry whose module is gone.
_ROUND_NUMBERED_PLANS_LEFT = [
    "llm_next",
    "llm_next10",
    "llm_next11",
    "llm_next12",
    "llm_next13",
    "llm_next14",
    "llm_next15",
    "llm_next16",
    "llm_next2",
    "llm_next3",
    "llm_next4",
    "llm_next5",
    "llm_next6",
    "llm_next7",
    "llm_next8",
    "llm_next9",
    "stream_next",
    "stream_next10",
    "stream_next11",
    "stream_next12",
    "stream_next2",
    "stream_next3",
    "stream_next4",
    "stream_next5",
    "stream_next6",
    "stream_next7",
    "stream_next8",
    "stream_next9",
]


def test_round_numbered_plan_modules_only_shrink():
    import pathlib

    plans = pathlib.Path(__file__).resolve().parents[1] / "stock_data_project_spark/plans"
    found = sorted(p.stem for p in plans.glob("*.py") if re.search(r"_next\d*$", p.stem))
    new = sorted(set(found) - set(_ROUND_NUMBERED_PLANS_LEFT))
    assert not new, f"new round-numbered plan modules (add to a domain module): {new}"
    assert found == _ROUND_NUMBERED_PLANS_LEFT, (
        "the pinned list is stale — drop the entries whose module is gone"
    )
