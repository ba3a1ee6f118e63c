"""Output checks, run outside every timed section.

* Ops with a DuckDB oracle in the registry are compared against it
  with ``tools/selfcheck.compare`` (imported, not copied).
* Curation ops whose oracle takes minutes at larger scales, and ops
  with no oracle at all, are compared against a fingerprint stored in
  ``fingerprints.json``. ``python3 perfbench/checks.py`` rebuilds that
  file: it checks every fingerprinted op against its oracle first
  (where one exists) and refuses to record a result that disagrees.
* ``ingest_sync`` snapshots are compared against the fake API's
  keep-latest truth.
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

import pandas as pd

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
FINGERPRINTS = BENCH / "fingerprints.json"


def _selfcheck():
    sys.path.insert(0, str(ROOT / "tools"))
    import selfcheck

    return selfcheck


def fingerprint(df: pd.DataFrame) -> str:
    """Order-insensitive digest of a result: rows, columns, dtypes, values."""
    canon = _selfcheck().canon(df)
    head = ",".join(f"{c}:{canon[c].dtype}" for c in canon.columns)
    body = canon.to_csv(index=False, lineterminator="\n")
    return hashlib.sha1(f"{len(canon)}|{head}|{body}".encode()).hexdigest()


class Checker:
    """Checks op results against oracles or stored fingerprints."""

    def __init__(self, sf_dir: str, data_key: str) -> None:
        self.sf_dir = sf_dir
        self.data_key = data_key
        self._con = None
        stored = json.loads(FINGERPRINTS.read_text()) if FINGERPRINTS.exists() else {}
        self.fingerprints = stored.get(data_key, {})

    def oracle(self, sql: str) -> pd.DataFrame:
        if self._con is None:
            self._con = _selfcheck().duck_connection(self.sf_dir)
        return self._con.execute(sql).df()

    def check(self, name: str, spark_pd: pd.DataFrame, oracle_sql: str | None) -> list[str]:
        """Problems found in one op's result (empty list: correct)."""
        want = self.fingerprints.get(name)
        if want is not None:
            got = fingerprint(spark_pd)
            return [] if got == want else [f"fingerprint {got} != stored {want}"]
        if oracle_sql is None:
            return ["no oracle and no stored fingerprint"]
        return _selfcheck().compare(name, spark_pd, self.oracle(oracle_sql))

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


def check_snapshot(rows: list[tuple[int, str, str]], truth: dict) -> list[str]:
    """Compare (id, updatedAt, content hash) rows with keep-latest truth."""
    got = {rid: (ts, h) for rid, ts, h in rows}
    problems = []
    if len(got) != len(rows):
        problems.append(f"{len(rows) - len(got)} duplicate ids in snapshot")
    missing = truth.keys() - got.keys()
    extra = got.keys() - truth.keys()
    if missing or extra:
        problems.append(f"ids: {len(missing)} missing, {len(extra)} unexpected")
    wrong = [rid for rid in truth.keys() & got.keys() if got[rid] != truth[rid]]
    if wrong:
        rid = min(wrong)
        problems.append(
            f"{len(wrong)} stale or altered rows, first id {rid}: "
            f"{got[rid]} != {truth[rid]}"
        )
    return problems


def main() -> int:
    """Rebuild fingerprints.json for the curation workload's data."""
    import os
    import tempfile

    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(BENCH))
    import datagen
    import workloads

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    from outreach_etl_tool_spark import catalog
    from outreach_etl_tool_spark.queries import REGISTRY
    from outreach_etl_tool_spark.session import get_spark

    spark = get_spark(app_name="perfbench-fingerprints")
    spark.sparkContext.setLogLevel("ERROR")
    catalog.ensure_shipped(spark)
    out = json.loads(FINGERPRINTS.read_text()) if FINGERPRINTS.exists() else {}
    status = 0
    with tempfile.TemporaryDirectory(dir=ROOT) as tmp:
        sf_dir = str(Path(tmp) / "data")
        datagen.write_tables(Path(sf_dir), **workloads.DATA)
        checker = Checker(sf_dir, "")
        prints = {}
        for name in workloads.CURATION_OPS:
            spec = REGISTRY[name]
            pdf = spec.fn(spark, sf_dir).toPandas()
            spark.catalog.clearCache()
            again = spec.fn(spark, sf_dir).toPandas()
            spark.catalog.clearCache()
            problems = [] if fingerprint(pdf) == fingerprint(again) else ["not deterministic"]
            if spec.oracle is not None:
                problems += _selfcheck().compare(name, pdf, checker.oracle(spec.oracle))
            verdict = "ok" if not problems else "FAIL " + "; ".join(problems)
            print(f"{name}: {len(pdf)} rows, oracle={'yes' if spec.oracle else 'none'}: {verdict}")
            if problems:
                status = 1
            else:
                prints[name] = fingerprint(pdf)
        checker.close()
    spark.stop()
    if status == 0:
        out[workloads.data_key()] = prints
        FINGERPRINTS.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    return status


if __name__ == "__main__":
    sys.exit(main())
