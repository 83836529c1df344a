"""One harness for the seeded fuzz families.

A family is a module under ``scripts/fuzz_families/``.  It holds only
what is its own:

- ``SF``: the testdata directory it reads (absent if it reads none);
- its seeds: ``SEED_BASE`` (seed ``s`` draws from
  ``random.Random(SEED_BASE + s)``) or ``SEQUENTIAL_SEED`` (one RNG drawn
  through the whole run, so seed ``s`` is the run's ``s``-th case);
- ``case(rng, seed)``: the generated case, a dict.  Keys starting with
  ``_`` carry bulky inputs and stay out of the failure records;
- ``check(run, case)``: runs the Spark side, the oracle and the referee
  and raises on any disagreement.  It may return a dict of tags, which
  the summary counts as ``by_<tag>``;
- optionally ``setup(run)``, whose result every seed sees as
  ``run.state``.

Everything else lives here: the repo root, the session
(``session.get_spark``), the DuckDB connection and the oracle comparison
(``tests/oracle_compare.py``), the synthesized sf_dir, the seed loop,
the summary and the exit code.  A seed fails when ``check`` raises: an
AssertionError with a message (every comparison rule gives one) is a
mismatch, any other exception an error.  Neither is a skip.

Usage:
  python scripts/fuzz.py <family> [n_seeds] [out.json]
      n_seeds defaults to the family's round budget in FAMILIES.
  python scripts/fuzz.py --all [out.json] [--quick]
      every family at its round budget (--quick: the smoke budget), each
      in its own subprocess, merged into one artifact: the ``diff``
      summary as the base document, one key per other family, and
      ``n_seeds_total`` / ``n_fail_total``.
Exit 0 iff every seed of every family run agrees.
"""

from __future__ import annotations

import importlib
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
from collections import Counter
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
for _p in (str(HERE), str(ROOT)):
    if _p not in sys.path:
        sys.path.insert(0, _p)

from tests.oracle_compare import (  # noqa: E402
    assert_same,
    compare,
    duckdb_connection,
    duckdb_fetch_arrow,
)

# family module -> (artifact key, round budget, smoke budget); the
# ``diff`` summary is the merged artifact's base document.
FAMILIES = {
    "diff": ("diff", 3000, 100),
    "sql_surface": ("sql_surface", 400, 40),
    "hof": ("hof", 500, 50),
    "curation": ("curation", 300, 30),
    "url": ("url", 200, 20),
    "asof": ("asof", 100, 10),
    "stream_late": ("stream_late", 100, 10),
    "ttl": ("stream_ttl", 100, 10),
    "dedup": ("dedup_param", 100, 10),
    "bucket": ("token_bucket", 100, 10),
    "dtw": ("dtw", 150, 15),
    "dbscan": ("dbscan", 150, 15),
    "codec": ("codec", 400, 40),
    "rankcdf": ("rankcdf", 150, 15),
    "trend": ("trend", 120, 12),
    "graph": ("graph", 150, 12),
    "suffix": ("suffix", 120, 7),
}


def family(name: str):
    return importlib.import_module(f"fuzz_families.{name}")


def agree(**sides) -> None:
    """The referee rule: every side equals the first, as plain Python
    values (dicts keyed by row id, sets of pairs, tuples).  Engine
    results against an oracle go through ``Run.compare`` instead."""
    (first, want), *rest = sides.items()
    for name, got in rest:
        if got == want:
            continue
        if isinstance(want, dict) and isinstance(got, dict):
            keys = sorted(
                (k for k in want.keys() | got.keys() if want.get(k) != got.get(k)),
                key=repr,
            )[:5]
            detail = {k: (want.get(k), got.get(k)) for k in keys}
        elif isinstance(want, (set, frozenset)) and isinstance(got, (set, frozenset)):
            detail = {
                f"{first}_only": sorted(want - got, key=repr)[:5],
                f"{name}_only": sorted(got - want, key=repr)[:5],
            }
        else:
            detail = (want, got)
        raise AssertionError(f"{name} != {first}: {str(detail)[:400]}")


class Run:
    """One family's run: the session, the DuckDB connection, the shared
    state and the per-seed scratch directories.  A session passed in is
    borrowed (never stopped); otherwise one is built on first use."""

    agree = staticmethod(agree)
    same = staticmethod(assert_same)

    def __init__(self, fam, spark=None):
        self.fam = family(fam) if isinstance(fam, str) else fam
        self.name = self.fam.__name__.rsplit(".", 1)[-1]
        self.sf = getattr(self.fam, "SF", None)
        self._spark = spark
        self._own = spark is None
        self._con = None
        self._scratch: list = []
        self.state = None
        self._setup_done = False

    @property
    def spark(self):
        if self._spark is None:
            from nomad_event_streamer_spark.session import get_spark

            self._spark = get_spark(
                app_name=f"fuzz-{self.name}", master="local[8]", shuffle_partitions=8
            )
        return self._spark

    @property
    def con(self):
        """DuckDB views over the family's testdata (a bare connection
        for a family that reads none)."""
        if self._con is None:
            if self.sf:
                self._con = duckdb_connection(self.sf)
            else:
                import duckdb

                self._con = duckdb.connect()
        return self._con

    def compare(self, sdf, sql: str, con=None):
        """Spark result vs DuckDB oracle under the driver's normalization;
        returns the Spark side as (columns, rows)."""
        return compare(sdf, con or self.con, sql)

    def duck(self, sql: str, con=None) -> list[tuple]:
        return duckdb_fetch_arrow(con or self.con, sql)[1]

    def template(self, table: str, n: int):
        """``n`` rows of the family's ``table``, tiled as often as needed
        (pandas), to overwrite with synthesized columns."""
        import pandas as pd

        tmpl = pd.read_parquet(f"{self.sf}/{table}.parquet")
        reps = max(1, -(-n // len(tmpl)))
        return pd.concat([tmpl] * reps, ignore_index=True).iloc[:n].copy()

    def synth(self, **tables):
        """An sf_dir whose named tables are the given pandas frames and
        whose other tables link to the family's testdata, plus a DuckDB
        connection over it.  Both are removed when the seed ends."""
        d = tempfile.mkdtemp(prefix=f"nes_{self.name}_")
        for fname in os.listdir(self.sf):
            if fname.removesuffix(".parquet") not in tables:
                os.symlink(os.path.join(self.sf, fname), os.path.join(d, fname))
        for name, frame in tables.items():
            frame.to_parquet(os.path.join(d, f"{name}.parquet"), index=False)
        con = duckdb_connection(d)
        self._scratch.append((d, con))
        return d, con

    def _end_seed(self) -> None:
        for d, con in self._scratch:
            con.close()
            shutil.rmtree(d, ignore_errors=True)
        self._scratch = []

    def close(self) -> None:
        self._end_seed()
        if self._con is not None:
            self._con.close()
            self._con = None
        if self._own and self._spark is not None:
            self._spark.stop()
        self._spark = None

    def cases(self, seeds):
        """(seed, case) for the requested seeds, drawn exactly as a full
        run from seed 0 draws them."""
        wanted = set(seeds)
        rng = (
            random.Random(self.fam.SEQUENTIAL_SEED)
            if hasattr(self.fam, "SEQUENTIAL_SEED")
            else None
        )
        for seed in range(max(wanted, default=-1) + 1):
            r = rng or random.Random(self.fam.SEED_BASE + seed)
            c = self.fam.case(r, seed)
            if seed in wanted:
                yield seed, c

    def go(self, seeds) -> dict:
        """Check the given seeds; return the family's summary."""
        seeds = list(seeds)
        failures: list[dict] = []
        tally: dict[str, Counter] = {}
        for i, (seed, case) in enumerate(self.cases(seeds)):
            try:
                if not self._setup_done:
                    if hasattr(self.fam, "setup"):
                        self.state = self.fam.setup(self)
                    self._setup_done = True
                tags = self.fam.check(self, case) or {}
                for k, v in tags.items():
                    tally.setdefault(f"by_{k}", Counter())[str(v)] += 1
            except Exception as exc:  # noqa: BLE001 - an error is a failure
                # the comparison rules always say what differs; a bare
                # assert (PySpark has some) is an error, not a mismatch
                mismatch = isinstance(exc, AssertionError) and exc.args
                kind = "mismatch" if mismatch else "error"
                rec = {"seed": seed, "kind": kind}
                rec.update((k, v) for k, v in case.items() if not k.startswith("_"))
                rec["error"] = f"{type(exc).__name__}: {exc}"[:600]
                failures.append(rec)
                print(f"seed {seed}: {kind.upper()} {rec['error'][:200]}", flush=True)
            finally:
                self._end_seed()
            if (i + 1) % 25 == 0:
                print(f"  {i + 1}/{len(seeds)} seeds, {len(failures)} failures", flush=True)
        summary = {
            "family": self.name,
            "n_seeds": len(seeds),
            "n_fail": len(failures),
            "sf_dir": self.sf,
            "failures": failures[:20],
        }
        summary.update((k, dict(sorted(v.items()))) for k, v in sorted(tally.items()))
        return summary


def fuzz_family(fam, n_seeds: int, out_path: str | None = None, spark=None) -> int:
    """Run seeds 0..n_seeds-1 of one family; write its summary; exit code."""
    run = Run(fam, spark)
    try:
        summary = run.go(range(n_seeds))
    finally:
        run.close()
    if out_path:
        with open(out_path, "w", encoding="utf-8") as fh:
            json.dump(summary, fh, indent=1, default=str)
    n, bad = summary["n_seeds"], summary["n_fail"]
    print(f"FUZZ {run.name.upper()}: {n - bad}/{n} match, {bad} failures", flush=True)
    return 1 if bad else 0


def fuzz_all(out_path: str, quick: bool) -> int:
    tmpdir = tempfile.mkdtemp(prefix="fuzz_all_")
    doc: dict = {}
    errors, total, fail_total = [], 0, 0
    for name, (key, seeds, quick_seeds) in FAMILIES.items():
        n = quick_seeds if quick else seeds
        path = os.path.join(tmpdir, f"{name}.json")
        print(f">>> {name} {n}", flush=True)
        rc = subprocess.call([sys.executable, str(HERE / "fuzz.py"), name, str(n), path])
        if rc != 0:
            errors.append(key)
        if os.path.exists(path):
            with open(path, encoding="utf-8") as fh:
                fam = json.load(fh)
        else:
            fam = {"n_seeds": 0, "n_fail": 1, "error": "no output"}
        if name == "diff":
            doc.update(fam)
        else:
            doc[key] = fam
        total += fam["n_seeds"]
        fail_total += fam["n_fail"]
    doc["n_seeds_total"] = total
    doc["n_fail_total"] = fail_total
    with open(out_path, "w", encoding="utf-8") as fh:
        json.dump(doc, fh, indent=1, default=str)
    shutil.rmtree(tmpdir, ignore_errors=True)
    print(f"FUZZ ALL: {total} seeds, {fail_total} failures, family errors: {errors or 'none'}")
    return 1 if (errors or fail_total) else 0


def main(argv: list[str]) -> int:
    if not argv or argv[0] in ("-h", "--help"):
        print(__doc__)
        return 2
    if argv[0] == "--all":
        rest = [a for a in argv[1:] if a != "--quick"]
        return fuzz_all(rest[0] if rest else "FUZZ_new.json", "--quick" in argv)
    name = argv[0]
    if name not in FAMILIES:
        print(f"unknown family {name!r}; one of: {', '.join(FAMILIES)}")
        return 2
    n = int(argv[1]) if len(argv) > 1 else FAMILIES[name][1]
    return fuzz_family(name, n, argv[2] if len(argv) > 2 else None)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
