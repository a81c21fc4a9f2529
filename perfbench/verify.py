"""Output checks, run once per benchmark run and never timed.

Queries are compared with their DuckDB oracle (``ORACLES``) using the
canonical row order and value hash of ``scripts/oracle_sweep.py``, the
registry's own correctness gate. A ``run_pipeline`` result is checked against
the ``valuation_full`` oracle: header order, row count and ticker set, plus
the dated and upsert copies.
"""

from __future__ import annotations

import csv
import filecmp
import importlib.util
import os


def load_sweep(root: str):
    """The oracle sweep script as a module (``canon``, ``value_hash``,
    ``TABLES``); it lives in ``scripts/``, which is not a package."""
    path = os.path.join(root, "scripts", "oracle_sweep.py")
    spec = importlib.util.spec_from_file_location("oracle_sweep", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Verifier:
    def __init__(self, root: str, sf_dir: str, oracles: dict[str, str]):
        import duckdb

        self.sweep = load_sweep(root)
        self.oracles = oracles
        self.con = duckdb.connect()
        for t in self.sweep.TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        self._oracle_cache: dict[str, tuple[list[str], list[tuple]]] = {}

    def close(self) -> None:
        self.con.close()

    def oracle(self, name: str) -> tuple[list[str], list[tuple]]:
        if name not in self._oracle_cache:
            res = self.con.sql(self.oracles[name])
            cols = [c.lower() for c in res.columns]
            self._oracle_cache[name] = (cols, res.fetchall())
        return self._oracle_cache[name]

    def check_query(self, name: str, df) -> str | None:
        """None when the DataFrame matches its oracle, else the reason."""
        if name not in self.oracles:
            return "no oracle"
        scols = [c.lower() for c in df.columns]
        srows = [tuple(r) for r in df.collect()]
        dcols, drows = self.oracle(name)
        if len(srows) != len(drows):
            return f"rows {len(srows)} != oracle {len(drows)}"
        if sorted(scols) != sorted(dcols):
            return f"columns {sorted(scols)} != oracle {sorted(dcols)}"
        h = self.sweep.value_hash
        if h(self.sweep.canon(srows, scols)) != h(self.sweep.canon(drows, dcols)):
            return "value hash differs from oracle"
        return None

    def check_pipeline_rows(self, manifest: dict) -> str | None:
        """Cheap per-call check: the run's row count is the oracle's."""
        _, drows = self.oracle("valuation_full")
        if manifest["n_rows"] != len(drows):
            return f"n_rows {manifest['n_rows']} != oracle {len(drows)}"
        return None

    def check_pipeline_files(
        self, manifest: dict, upsert_dir: str, header: list[str]
    ) -> str | None:
        """Full check of one run's files."""
        dcols, drows = self.oracle("valuation_full")
        latest, dated = manifest["latest_csv"], manifest["dated_csv"]
        with open(latest, newline="", encoding="utf-8") as f:
            rows = list(csv.reader(f))
        if rows[0] != header:
            return f"header {rows[0]} != {header}"
        if len(rows) - 1 != len(drows):
            return f"csv rows {len(rows) - 1} != oracle {len(drows)}"
        t_csv, t_ora = rows[0].index("ticker"), dcols.index("ticker")
        if {r[t_csv] for r in rows[1:]} != {r[t_ora] for r in drows}:
            return "ticker set differs from oracle"
        if not dated or not filecmp.cmp(latest, dated, shallow=False):
            return "dated copy missing or differs"
        upserted = os.path.join(upsert_dir, os.path.basename(dated))
        if manifest["uploaded"] != upserted or not filecmp.cmp(
            dated, upserted, shallow=False
        ):
            return "upsert copy missing or differs"
        log_copy = os.path.join(upsert_dir, os.path.basename(manifest["log_path"]))
        if not os.path.exists(log_copy):
            return "upserted log missing"
        return None
