"""Regenerate the plan-shape ledger, tests/plan_ledger.json.

Usage: python tools/plan_ledger.py [q1,q2,...]

For each named registry entry (default: every entry) this builds the
query on a fresh cache, records ``testing.plan_shape`` (the physical
operator counts of its initial plan), executes it, and records
``leaves_cache``: whether the CacheManager still holds a relation
afterwards. Named entries are rewritten in place; a run without names
rewrites the whole file and drops entries no longer registered.

The ledger is taken at the fixture named by ``SPARK_GRAFT_ORACLE_SF``
(default: the sf0.001 fixture, as in the test) and records that
fixture's directory name; join selection depends on table sizes, so
the per-entry test compares the counts only at the same fixture. One
line per entry with sorted keys, so a plan change is a one-line diff.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_capstone_spark.catalog import QUERIES  # noqa: E402
from bigdata_capstone_spark.session import build_session  # noqa: E402
from bigdata_capstone_spark.testing import cache_in_use, plan_shape  # noqa: E402

LEDGER = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "plan_ledger.json",
)


def write_ledger(path: str, fixture: str, entries: dict[str, dict]) -> None:
    lines = [
        f"  {json.dumps(name)}: {json.dumps(entries[name], sort_keys=True)}"
        for name in sorted(entries)
    ]
    with open(path, "w") as f:
        f.write(f'{{"fixture": {json.dumps(fixture)},\n "entries": {{\n')
        f.write(",\n".join(lines))
        f.write("\n}}\n")


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.001")
    fixture = os.path.basename(os.path.normpath(sf_dir))
    old: dict[str, dict] = {}
    if os.path.exists(LEDGER):
        with open(LEDGER) as f:
            ledger = json.load(f)
        if ledger["fixture"] == fixture:
            old = ledger["entries"]
    names = sorted(QUERIES)
    entries: dict[str, dict] = {}
    if len(sys.argv) > 1:
        names = [s for s in sys.argv[1].split(",") if s]
        unknown = [n for n in names if n not in QUERIES]
        if unknown:
            raise SystemExit(f"not registered: {unknown}")
        if not old:
            raise SystemExit(f"no ledger at {fixture}: regenerate every entry")
        entries = dict(old)
    spark = build_session(app_name="plan_ledger")
    for name in names:
        spark.catalog.clearCache()
        df = QUERIES[name](spark, sf_dir)
        line: dict = plan_shape(df)
        df.collect()
        line["leaves_cache"] = cache_in_use(spark)
        spark.catalog.clearCache()
        if old.get(name) != line:
            print(f"{name}: {old.get(name)} -> {line}", flush=True)
        entries[name] = line
    write_ledger(LEDGER, fixture, entries)
    print(f"wrote {LEDGER} ({len(entries)} entries)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
