"""Mutation check for the FADS engine: does the fast FADS test pair notice
a wrong engine?

Each mutant is a one-line change to ``pyfads/fads_core.py``.  The script
copies the repository to a temporary directory, applies one mutant there
(never to this tree), runs ``tests/test_fads_batch.py`` and
``tests/test_fads_hypothesis.py`` on the copy, and prints ``killed`` (a
test failed) or ``survived``.  An equivalent mutant cannot change any
released interval; it is marked with the reason and is expected to
survive.  The unmutated copy runs first and must pass.

Usage: python scripts/fads_mutants.py [mutant ...]   (~1 min per mutant)
Exit status: 1 if a non-equivalent mutant survived, else 0.
"""

from __future__ import annotations

import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
TARGET = "pyfads/fads_core.py"
TESTS = ["tests/test_fads_batch.py", "tests/test_fads_hypothesis.py"]

# (name, original text, mutated text, why it is equivalent or None); the
# original text must occur exactly once in TARGET
MUTANTS = [
    ("fits_lo_nonstrict",
     "fits &= cl_lo[j, head:m] < v", "fits &= cl_lo[j, head:m] <= v", None),
    ("fits_hi_nonstrict",
     "fits &= cl_hi[j, head:m] > v", "fits &= cl_hi[j, head:m] >= v", None),
    ("reuse_on_infoloss_tie",
     "il < info_loss(knn_wid, gr)", "il <= info_loss(knn_wid, gr)", None),
    ("last_minimum",
     "b = int(ils.argmin())", "b = len(ils) - 1 - int(ils[::-1].argmin())", None),
    ("unstable_knn_sort",
     'order = dists.argsort(kind="stable")[:k1]', "order = dists.argsort()[:k1]", None),
    ("new_cluster_needs_k_rest",
     "if len(rest) < k1:", "if len(rest) <= k1:", None),
    ("box_includes_pivot",
     "nb_q = buf_q[order]", "nb_q = np.vstack([buf_q[order], q])", None),
    ("ttl_inclusive",
     "born[head] + reuse < now", "born[head] + reuse <= now", None),
    ("flush_ranks_previous_bounds",
     "while len(buf):\n                buf = release_oldest(buf, t, now)",
     "while len(buf):\n                buf = release_oldest(buf, t - 1, now)", None),
    ("zero_range_guard_inclusive",
     "for j, g in enumerate(gr_acc[t].tolist()):\n                if g > 0:",
     "for j, g in enumerate(gr_acc[t].tolist()):\n                if g >= 0:",
     "a strict fit needs lo < v < hi in every dimension and every box lies "
     "inside the running bounds, so every global range is > 0 whenever a "
     "cluster fits"),
    ("pivot_released_first",
     "rel_pos.extend(rest[nb].tolist())\n            rel_pos.append(pivot)",
     "rel_pos.append(pivot)\n            rel_pos.extend(rest[nb].tolist())",
     "only the order of the released rows changes, not any row's interval"),
    ("no_bounds_after_flush",
     "self.glo, self.ghi = glo_acc[-1].copy(), ghi_acc[-1].copy()",
     "self.glo, self.ghi = (self.glo, self.ghi) if drain else "
     "(glo_acc[-1].copy(), ghi_acc[-1].copy())",
     "a flush adds no rows, so the bounds it writes back equal the ones it read"),
]


def _copy_tree(dst: Path) -> None:
    keep = ["pyfads", "tests", "__spark_entry__.py"]
    for name in keep:
        src = ROOT / name
        if src.is_dir():
            shutil.copytree(src, dst / name, ignore=shutil.ignore_patterns("__pycache__"))
        else:
            shutil.copy2(src, dst / name)


def _tests_pass(cwd: Path) -> bool:
    cmd = [sys.executable, "-m", "pytest", "-x", "-q", "-p", "no:cacheprovider", *TESTS]
    r = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True)
    if r.returncode not in (0, 1):
        raise RuntimeError(f"pytest exited {r.returncode}:\n{r.stdout[-2000:]}{r.stderr[-2000:]}")
    return r.returncode == 0


def main(names: list[str]) -> int:
    source = (ROOT / TARGET).read_text()
    chosen = [mu for mu in MUTANTS if not names or mu[0] in names]
    unknown = set(names) - {mu[0] for mu in MUTANTS}
    if unknown:
        print(f"unknown mutant(s): {', '.join(sorted(unknown))}")
        return 2
    for name, old, _new, _why in chosen:
        if source.count(old) != 1:
            print(f"{name}: its original text occurs {source.count(old)} times in {TARGET}")
            return 2
    with tempfile.TemporaryDirectory(prefix="fads-mutants-") as tmp:
        work = Path(tmp)
        _copy_tree(work)
        if not _tests_pass(work):
            print("the unmutated copy fails its tests; fix that first")
            return 2
        bad = 0
        for name, old, new, why in chosen:
            (work / TARGET).write_text(source.replace(old, new))
            survived = _tests_pass(work)
            if why is None:
                bad += survived
                print(f"{'SURVIVED' if survived else 'killed  '} {name}", flush=True)
            else:
                verdict = "survived" if survived else "killed  "
                print(f"{verdict} {name} (equivalent: {why})", flush=True)
    print(f"{bad} non-equivalent mutant(s) survived")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
