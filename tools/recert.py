"""Mechanical re-certification detector.

A query's driver-green CORRECTNESS row certifies ONE behavior. If the
query's plan or its oracle text changes in a later round, that row is
stale — the r03 simhash blocking change rode a round-1 green row, which a
regression would also have done. This tool makes staleness detection
mechanical instead of hand-curated:

  fingerprint(query) = sha256( normalized analyzed-plan string at sf0.001
                               + "\\0" + oracle SQL text )

``python tools/recert.py``            recompute fingerprints, diff against
                                      the committed tools/plan_hashes.json,
                                      write the changed/new names to
                                      tools/recert_list.json, and refresh
                                      plan_hashes.json.
``python tools/recert.py --check``    diff only (no file writes), exit 1
                                      if anything changed.

__spark_entry__ reads recert_list.json: every name in it is treated as
UNcertified (re-enters the driver's 50-query window) regardless of old
green rows. The workflow per round: change code → run tools/recert.py →
commit both JSON files; the entry module does the rest.

Plan strings are normalized before hashing (expression IDs, temp paths,
checkpoint/in-memory RDD ids are nondeterministic across sessions):
two runs in fresh sessions must produce identical fingerprints — enforced
by tests/test_entry.py.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HASHES_PATH = os.path.join(REPO, "tools", "plan_hashes.json")
RECERT_PATH = os.path.join(REPO, "tools", "recert_list.json")
FINGERPRINT_SF_DIR = "/root/testdata/sf0.001"
# spark.range() prints its default split count (defaultParallelism) into
# the analyzed plan as ``splits=Some(N)``, so the fingerprinting session
# runs at a fixed core count — the one the committed baseline was
# written at — whatever the host's.
FINGERPRINT_CPUS = 32

_NORMALIZERS = [
    # Catalyst expression IDs: colname#1234 / #1234L
    (re.compile(r"#\d+"), "#"),
    # PySpark higher-order-function lambda variables carry a per-process
    # counter (lambda x_3 vs lambda x_290) — pure session state
    (re.compile(r"\blambda ([A-Za-z]+)_\d+"), r"lambda \1_"),
    # temp dirs (IVF index builds, checkpoints)
    (re.compile(r"/tmp/[^\s,)\]]+"), "/tmp/X"),
    # RDD / plan ids embedded by localCheckpoint & InMemoryRelation
    (re.compile(r"\bLogicalRDD\b[^\n]*"), "LogicalRDD"),
    (re.compile(r"\bExistingRDD\b[^\n]*"), "ExistingRDD"),
    (re.compile(r"\bcachedPlan=[^\n]*"), "cachedPlan"),
    # run-to-run varying statistics annotations
    (re.compile(r"Statistics\([^)]*\)"), "Statistics"),
    (re.compile(r"[ \t]+"), " "),
    # Repartition targets come from sparkContext.defaultParallelism
    # (spread(), rebalance_compute), i.e. the fingerprinting MACHINE's
    # core count — a driver with a different core count would otherwise
    # flag the whole text/dedup registry as drifted (v4).
    (re.compile(r"\bRepartition \d+"), "Repartition N"),
]


def normalize_plan(plan: str) -> str:
    for rx, rep in _NORMALIZERS:
        plan = rx.sub(rep, plan)
    return plan.strip()


_PKG = "date_warehouse___airline_project_spark"

# Fingerprint ALGORITHM version, stored inside plan_hashes.json under
# VERSION_KEY. A baseline written by another algorithm hashes differently
# for reasons that are NOT behavior drift, so main() refuses to diff it.
FP_VERSION = "4"
VERSION_KEY = "__fp_version__"


def _code_names(code) -> set[str]:
    """Global names referenced by a code object INCLUDING its nested code
    objects (lambdas, comprehensions) — a helper reached only from inside
    a lambda must still enter the closure."""
    import types

    names = set(code.co_names)
    for const in code.co_consts:
        if isinstance(const, types.CodeType):
            names |= _code_names(const)
    return names


def _local_import_objs(f) -> list:
    """Objects bound by ``import`` statements INSIDE a function body.

    Function-local imports (``def q(...): from ..ops import helper``) are
    invisible to the global-name walk: the helper is never an attribute of
    the defining module, so ``getattr(mod, name)`` misses it and a change
    to its source leaves the fingerprint untouched (observed: an edit to
    ``greedy_keep``, reached only via local imports, produced "0 changed").
    Parse the function's AST for Import/ImportFrom at any nesting depth
    and resolve them exactly as the interpreter would, relative to the
    function's own module."""
    import ast
    import importlib
    import importlib.util
    import inspect
    import textwrap
    import types

    try:
        tree = ast.parse(textwrap.dedent(inspect.getsource(f)))
    except (OSError, SyntaxError):  # pragma: no cover
        return []
    mod = sys.modules.get(f.__module__)
    pkg = getattr(mod, "__package__", None) or (f.__module__ or "").rsplit(".", 1)[0]
    objs = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            try:
                target = importlib.util.resolve_name(
                    "." * node.level + (node.module or ""), pkg
                )
                m = sys.modules.get(target) or importlib.import_module(target)
            except Exception:  # pragma: no cover - unresolvable import
                continue
            for alias in node.names:
                obj = getattr(m, alias.name, None)
                if obj is not None:
                    objs.append(obj)
        elif isinstance(node, ast.Import):
            for alias in node.names:
                m = sys.modules.get(alias.name)
                if isinstance(m, types.ModuleType):
                    objs.append(m)
    return objs


def _fn_sources(fn) -> str:
    """Transitive source closure of the query fn: every package function
    reachable through global-name references, walked recursively and
    across package modules (both ``from x import helper`` and
    ``import x; x.helper(...)`` styles), PLUS functions bound by imports
    local to a function body (resolved via the AST). Catches behavior
    that never reaches the plan string: driver-side folds over collected
    bounded relations (e.g. the MMR greedy loop's arithmetic helpers)
    appear as a LocalRelation in the plan, so only their Python source
    can witness a change — including second-level helpers (dot() reached
    via cosine()), cross-module ones, and locally-imported ones."""
    import inspect
    import types

    seen: set[tuple[str, str]] = set()
    srcs: list[str] = []
    queue = [fn]
    while queue:
        f = queue.pop(0)
        key = (f.__module__ or "", f.__qualname__)
        if key in seen:
            continue
        seen.add(key)
        try:
            srcs.append(inspect.getsource(f))
        except OSError:  # pragma: no cover
            pass
        mod = sys.modules.get(f.__module__)
        if mod is None:
            continue
        names = sorted(_code_names(f.__code__))
        # modules of this package referenced by attribute (import x; x.h())
        mods = [mod] + [
            m
            for m in (getattr(mod, n, None) for n in names)
            if isinstance(m, types.ModuleType)
            and (m.__name__ or "").startswith(_PKG)
        ]
        for obj in _local_import_objs(f):
            if isinstance(obj, types.FunctionType) and (
                obj.__module__ or ""
            ).startswith(_PKG):
                queue.append(obj)
            elif isinstance(obj, types.ModuleType) and (
                obj.__name__ or ""
            ).startswith(_PKG):
                mods.append(obj)
        for m in mods:
            for name in names:
                obj = getattr(m, name, None)
                if isinstance(obj, types.FunctionType) and (
                    (obj.__module__ or "").startswith(_PKG)
                    or obj.__module__ == fn.__module__
                ):
                    queue.append(obj)
    return "\n".join(srcs)


def fingerprint_one(spark, q, sf_dir: str = FINGERPRINT_SF_DIR) -> str:
    df = q.fn(spark, sf_dir)
    plan = df._jdf.queryExecution().analyzed().toString()
    base = "\0".join([normalize_plan(plan), q.oracle or ""])
    return hashlib.sha256(f"{base}\0{_fn_sources(q.fn)}".encode()).hexdigest()


def compute_fingerprints() -> dict[str, str]:
    """{query: digest} for every registry query."""
    # Full lineage, not checkpoint-truncated LogicalRDDs (see _materialize).
    # Value = OUR pid: fingerprint_session() in text_dedup only honors the
    # variable in the process that set it, so a leaked/inherited copy can't
    # truncate iterative plans in a session that executes them.
    os.environ["SPARK_GRAFT_PLAN_FINGERPRINT"] = str(os.getpid())

    from date_warehouse___airline_project_spark import plans
    from date_warehouse___airline_project_spark.session import get_spark

    plans.load_all()
    spark = get_spark("recert", master=f"local[{FINGERPRINT_CPUS}]")
    # Plan strings truncate expression lists at spark.sql.debug.
    # maxToStringFields (default 25) — a 48-column aggregate change hashed
    # IDENTICAL under the default because the changed columns were elided
    # as "... N more fields". Fingerprints must see the whole tree.
    spark.conf.set("spark.sql.debug.maxToStringFields", "100000")
    out: dict[str, str] = {}
    for name, q in plans.REGISTRY.items():
        try:
            out[name] = fingerprint_one(spark, q)
        except Exception as exc:  # a broken plan must surface, not hide
            out[name] = f"ERROR:{type(exc).__name__}:{exc}"
    return out


def diff(old: dict[str, str], new: dict[str, str]) -> list[str]:
    """Names whose fingerprint changed or is new. Removed names drop out
    of the registry (and the window) by themselves."""
    return sorted(n for n, h in new.items() if old.get(n) != h)


def greens_by_round(repo: str = REPO) -> dict[int, set[str]]:
    """{round: green names} from every CORRECTNESS_r{N}.json (numeric
    round parse — r100 must beat r99, which a lexicographic sort gets
    wrong)."""
    import glob

    out: dict[int, set[str]] = {}
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        with open(path) as f:
            rows = json.load(f)
        out[int(m.group(1))] = {
            n
            for n, r in rows.items()
            if r.get("err") is None
            and r.get("rows_match")
            and r.get("hash_match") is not False
        }
    return out


def latest_green(repo: str = REPO) -> set[str]:
    """Names green in the HIGHEST-numbered CORRECTNESS_r{N}.json."""
    greens = greens_by_round(repo)
    return greens[max(greens)] if greens else set()


def carry_over(
    old_recert: dict[str, int] | list[str],
    changed: list[str],
    greens: dict[int, set[str]],
    registry: set[str],
    entry_round: int,
) -> dict[str, int]:
    """Next recert map {name: resolving_round}: newly-changed names enter
    at ``entry_round`` (the round whose driver run can first re-certify
    them); prior entries stay until a green row lands in a round >= their
    own resolving round. Keying on the ROUND, not just "any green row",
    prevents a re-run of this tool from dropping an entry on the strength
    of a green row that PREDATES the behavior change that listed it
    (a changed=[] re-run after the baseline was already regenerated would
    otherwise silently de-window everything). Legacy list-form entries
    adopt ``entry_round``."""
    if isinstance(old_recert, list):
        old_recert = {n: entry_round for n in old_recert}
    out = {
        n: r
        for n, r in old_recert.items()
        if n in registry
        and not any(n in g for rnd, g in greens.items() if rnd >= r)
    }
    for n in changed:
        out[n] = entry_round
    return {n: out[n] for n in sorted(out)}


def main() -> None:
    check_only = "--check" in sys.argv
    old: dict[str, str] = {}
    if os.path.exists(HASHES_PATH):
        with open(HASHES_PATH) as f:
            old = json.load(f)
        old_version = str(old.pop(VERSION_KEY, "1"))
        if old_version != FP_VERSION:
            sys.exit(
                f"{HASHES_PATH} holds fingerprint algorithm v{old_version} but "
                f"this tool computes v{FP_VERSION}: every query would diff as "
                "changed, so no comparison was made."
            )
    new = compute_fingerprints()
    # First run ever: the hashes file IS the baseline — queries keep their
    # existing green rows (their behavior at baseline is what those rows
    # certified as of this commit); only subsequent drift re-windows them.
    changed = diff(old, new) if old else []
    old_recert: dict[str, int] | list[str] = []
    if os.path.exists(RECERT_PATH):
        with open(RECERT_PATH) as f:
            old_recert = json.load(f)
    greens = greens_by_round()
    entry_round = (max(greens) if greens else 0) + 1
    recert = carry_over(old_recert, changed, greens, set(new), entry_round)
    errors = [n for n, h in new.items() if h.startswith("ERROR:")]
    listed = set(old_recert)
    already = sum(n in listed for n in changed)
    resolved = len(listed - set(recert))
    from __spark_entry__ import DRIVER_WINDOW

    print(f"{len(new)} queries fingerprinted (algo v{FP_VERSION}), "
          f"{len(changed)} changed/new ({len(changed) - already} new to the "
          f"recert list, {already} already in it), {resolved} resolved, "
          f"{len(recert)} to re-certify ({len(recert)}/{DRIVER_WINDOW} "
          f"window slots), {len(errors)} errored")
    for n in recert:
        print(f"  recert: {n}")
    for n in errors:
        print(f"  ERROR : {n} -> {new[n][:120]}")
    if not check_only:
        with open(HASHES_PATH, "w") as f:
            json.dump({VERSION_KEY: FP_VERSION, **new}, f, indent=1, sort_keys=True)
        with open(RECERT_PATH, "w") as f:
            json.dump(recert, f, indent=1)
        print(f"wrote {HASHES_PATH} and {RECERT_PATH}")
    elif changed:
        sys.exit(1)


if __name__ == "__main__":
    main()
