"""Regenerate FACEHASH.json — the per-face change manifest the sweep
order uses to re-verify CHANGED faces.

Problem this closes (round 6): a face edited AFTER its last green driver
verdict keeps that stale green and sorts into the sweep's regression-
canary tail — a changed implementation could go many rounds without the
driver ever re-hashing it (concrete instance: text_repetition_signals,
green in r4, schema extended in r6, sweep position ~112 of 196 with a
50-slot sweep). The manifest records, per face, an md5 of (oracle SQL +
the face function's source) and the round that hash FIRST appeared;
``__spark_entry__._visit_status`` then treats a verdict as usable only
if its round is >= the hash's round — a changed face re-enters the
unverified front automatically.

Scope: the hash is TRANSITIVE — oracle SQL + the plan function's source
+ (recursively) every package-local function/class it references,
resolved through module globals and the function's own local imports —
so an operator edit two call levels below a face (the round-6
positional filter inside ngram_jaccard_candidates, under
dedup_ngram_jaccard) changes the face's hash with no manual step.
Name-token resolution can over-match (a name in a comment), which only
adds hash sensitivity; it cannot miss a referenced package function.

Run at the end of any session that edits faces or operators:
    python tools/gen_facehash.py [--bump name ...] [--migrate]
Unchanged faces keep their recorded since_round; changed/new faces get
the CURRENT round (max CORRECTNESS_r* + 1 — i.e. the round whose
verdict file does not exist yet). ``--bump`` force-stamps the named
faces with the current round even when their hash is unchanged (escape
hatch for dependencies the resolver cannot see, e.g. data-file or conf
changes). ``--migrate`` recomputes every hash under a CHANGED HASH
ALGORITHM while PRESERVING each face's recorded since_round — without
it, an algorithm change would mark all ~196 faces as edited and
invalidate every standing verdict at once.

Safety: if the manifest is missing or empty, faces are recorded with
since_round 0 (treat as never-changed) rather than the current round —
invalidating all ~196 standing verdicts at once would burn ~4 full
50-slot sweeps re-verifying the whole catalog. The accurate bootstrap
is a git-worktree diff against the last round boundary (how round 6
seeded it); after a lost manifest, prefer re-seeding that way or
--bump'ing the faces known to have changed.
"""

from __future__ import annotations

import ast
import hashlib
import importlib
import inspect
import json
import re
import textwrap
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

from aidc_2018_timeseries_spark.plans.catalog import CATALOG, load_all  # noqa: E402

MANIFEST = HERE / "FACEHASH.json"


_PKG = "aidc_2018_timeseries_spark"


def _transitive_sources(fn, seen: set | None = None) -> list[str]:
    """Source of ``fn`` plus (recursively) every package-local function
    or class its source references by name — so an edit to an operator a
    face calls (e.g. the round-6 positional filter inside
    ngram_jaccard_candidates, two call levels below the
    dedup_ngram_jaccard face) changes the face's hash without --bump.

    Resolution is name-token lookup in each function's __globals__
    (module attrs like ``dd.minhash_candidate_pairs`` resolve via the
    module object); over-matching a name in a comment only adds hash
    sensitivity, never misses a change. Non-package callables (pyspark,
    stdlib) are skipped.
    """
    if seen is None:
        seen = set()
    key = getattr(fn, "__module__", ""), getattr(fn, "__qualname__", repr(fn))
    if key in seen:
        return []
    seen.add(key)
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        return []
    out = [src]
    # resolution namespace = module globals + the function's own LOCAL
    # imports (faces routinely do `from ...operators import text as tx`
    # inside the body, which __globals__ cannot see)
    ns = dict(getattr(fn, "__globals__", {}))
    try:
        tree = ast.parse(textwrap.dedent(src))
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.startswith(_PKG):
                        ns[a.asname or a.name.split(".")[0]] = (
                            importlib.import_module(a.name)
                        )
            elif (
                isinstance(node, ast.ImportFrom)
                and node.module
                and node.module.startswith(_PKG)
            ):
                m = importlib.import_module(node.module)
                for a in node.names:
                    ns[a.asname or a.name] = getattr(m, a.name, None)
    except (SyntaxError, ImportError):
        pass
    refs = []
    for mod_name, attr in set(re.findall(r"\b(\w+)\.(\w+)\b", src)):
        mod = ns.get(mod_name)
        if mod is not None and getattr(mod, "__name__", "").startswith(_PKG):
            refs.append(getattr(mod, attr, None))
    for name in set(re.findall(r"\b(\w+)\b", src)):
        refs.append(ns.get(name))
    for obj in refs:
        if (
            (inspect.isfunction(obj) or inspect.isclass(obj))
            and getattr(obj, "__module__", "").startswith(_PKG)
        ):
            out.extend(_transitive_sources(obj, seen))
    return out


_imported_all = False


def _import_all_package_modules() -> None:
    """Import every module under the package once, so name resolution in
    :func:`_transitive_sources` is DETERMINISTIC. Without this, a token
    like ``scd.scd2_compact`` resolves only if some earlier code already
    imported ``operators.scd`` (importing a submodule sets it as an
    attribute on its parent package) — faces use deferred local imports,
    so the reachable closure would depend on process import history
    (caught: the manifest-sync test passed standalone but failed under
    the full suite, where earlier tests had imported more modules).
    """
    global _imported_all
    if _imported_all:
        return
    import pkgutil

    pkg = importlib.import_module(_PKG)
    for info in pkgutil.walk_packages(pkg.__path__, prefix=_PKG + "."):
        try:
            importlib.import_module(info.name)
        except ImportError:
            pass  # guarded optional deps (scipy/PIL shims) stay skippable
    _imported_all = True


def face_hash(entry) -> str:
    _import_all_package_modules()
    sources = sorted(_transitive_sources(entry.spark_fn))
    # An oracle that reads a committed fixture embeds its absolute path;
    # where the repo is checked out is not part of the face.
    oracle = (entry.oracle or "").replace(str(HERE), "<checkout>")
    return hashlib.md5(
        (oracle + "\n" + "\n".join(sources)).encode()
    ).hexdigest()


def current_round() -> int:
    rounds = [0]
    for f in HERE.glob("CORRECTNESS_r*.json"):
        m = re.search(r"_r(\d+)\.json$", f.name)
        if m:
            rounds.append(int(m.group(1)))
    return max(rounds) + 1


def main() -> None:
    load_all()
    bump: set[str] = set()
    if "--bump" in sys.argv:
        bump = set(sys.argv[sys.argv.index("--bump") + 1 :])
        unknown = bump - set(CATALOG)
        if unknown:
            raise SystemExit(f"--bump: unknown faces {sorted(unknown)}")
    old: dict[str, dict] = {}
    if MANIFEST.exists():
        try:
            loaded = json.loads(MANIFEST.read_text())
            if isinstance(loaded, dict):
                old = {
                    k: v for k, v in loaded.items() if isinstance(v, dict)
                }
        except ValueError:
            pass
    bootstrap = not old  # lost/empty manifest → conservative since_round 0
    migrate = "--migrate" in sys.argv
    rnd = current_round()
    out: dict[str, dict] = {}
    changed = new = kept = bumped = 0
    for name, entry in CATALOG.items():
        h = face_hash(entry)
        prev = old.get(name)
        if name in bump:
            out[name] = {"hash": h, "since_round": rnd}
            bumped += 1
        elif prev and prev.get("hash") == h:
            out[name] = prev
            kept += 1
        elif prev and migrate:
            # hash-algorithm change: refresh the hash, keep the history
            out[name] = {
                "hash": h, "since_round": int(prev.get("since_round", 0))
            }
            kept += 1
        elif prev:
            out[name] = {"hash": h, "since_round": rnd}
            changed += 1
        else:
            out[name] = {"hash": h, "since_round": 0 if bootstrap else rnd}
            new += 1
    MANIFEST.write_text(json.dumps(out, indent=0, sort_keys=True) + "\n")
    note = " (BOOTSTRAP: new faces at since_round 0 — see docstring)" if bootstrap else ""
    print(
        f"FACEHASH.json: {len(out)} faces — {kept} unchanged, "
        f"{changed} changed, {new} new, {bumped} bumped "
        f"(since_round={rnd} for changed/bumped){note}"
    )


if __name__ == "__main__":
    main()
