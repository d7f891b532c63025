"""Output checks, run outside the timed region.

A registered query's output is hashed with the driver simulator's
canonicalizer (``tools.driver_sim.value_hash``) and compared with its
DuckDB twin evaluated on the same generated tables: same column names,
types, row count and order-insensitive value hash. Queries registered
without a twin (the approximate / ANN ones) are checked on their row
count only: it must be non-zero and equal to the count of the first run
on the same generated tables.

A CAIC invocation is checked on the FeatureCollection it submitted: the
flagship's twin (``caic_pipeline``'s oracle SQL) is evaluated over the
invocation's own payload, and both sides are reduced to one canonical
JSON string per feature before hashing.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb
import pyarrow as pa
from pyspark.sql.types import ArrayType, MapType, StructType

from perfbench.datagen import TABLES
from tools.driver_sim import type_mismatches, value_hash

DUCK_SETTINGS = "SET threads = 4; SET memory_limit = '3GB';"


class OracleCheck:
    """DuckDB twins over one directory of generated tables.

    A twin's result depends only on its SQL and the tables, so its column
    names, row count and value hash are cached as JSON under ``cache_dir``
    (one directory per generated dataset) and reused by later runs on the
    same dataset. The Spark side is collected and hashed on every check."""

    def __init__(self, sf_dir: str, cache_dir: str):
        self.con = duckdb.connect()
        self.con.execute(DUCK_SETTINGS)
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)

    def close(self) -> None:
        self.con.close()

    def _cached(self, key: str, compute) -> dict:
        path = os.path.join(self.cache_dir, key + ".json")
        try:
            with open(path) as f:
                return json.load(f)
        except FileNotFoundError:
            pass
        value = compute()
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(value, f)
        os.replace(tmp, path)
        return value

    def _twin(self, sql: str) -> dict:
        rel = self.con.sql(sql)
        cols = [d[0] for d in rel.description]
        rows = [tuple(r) for r in rel.fetchall()]
        return {"cols": cols, "rows": len(rows), "hash": value_hash(cols, rows)}

    def check(self, spec, df) -> str | None:
        """None when ``df`` (the query's built DataFrame) matches its twin,
        else a one-line reason."""
        scols = df.columns
        srows = [tuple(r) for r in df.collect()]
        if spec.oracle is None:
            ref = self._cached(f"rows-{spec.name}", lambda: {"rows": len(srows)})["rows"]
            if not srows:
                return "rows-only: empty output"
            if len(srows) != ref:
                return f"rows-only: {len(srows)} rows, first run on these inputs gave {ref}"
            return None
        nonscalar = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if nonscalar:
            return f"non-scalar output columns {nonscalar}"
        digest = hashlib.sha256(spec.oracle.encode()).hexdigest()[:16]
        twin = self._cached(f"twin-{spec.name}-{digest}", lambda: self._twin(spec.oracle))
        if sorted(scols) != sorted(twin["cols"]):
            return f"columns spark={sorted(scols)} duck={sorted(twin['cols'])}"
        mism = type_mismatches(self.con, spec.oracle, df.dtypes)
        if mism:
            return f"type mismatch {mism}"
        if len(srows) != twin["rows"]:
            return f"row count spark={len(srows)} duck={twin['rows']}"
        if value_hash(scols, srows) != twin["hash"]:
            return f"value-hash mismatch ({len(srows)} rows)"
        return None


_SUMMARY = pa.list_(pa.struct([("date", pa.string()), ("content", pa.string())]))
_RATING = pa.list_(
    pa.struct([("alp", pa.string()), ("tln", pa.string()), ("btl", pa.string())])
)
AREAS_ARROW = pa.schema(
    [
        ("area_id", pa.string()),
        ("_pos", pa.int32()),
        ("geometry_type", pa.string()),
        ("geometry_json", pa.string()),
        ("properties_json", pa.string()),
    ]
)
FORECASTS_ARROW = pa.schema(
    [
        ("product_id", pa.string()),
        ("type", pa.string()),
        ("area_id", pa.string()),
        ("public_name", pa.string()),
        ("forecaster", pa.string()),
        ("issue_date_time", pa.string()),
        ("expiry_date_time", pa.string()),
        ("is_translated", pa.bool_()),
        ("summary_days", _SUMMARY),
        ("rating_days", _RATING),
    ]
)


def _feature_key(fid, props: dict, geometry: dict) -> tuple[str]:
    return (json.dumps({"id": fid, "properties": props, "geometry": geometry}, sort_keys=True),)


class CaicCheck:
    """The flagship twin, re-pointed from the fixture files at one
    invocation's payload tables."""

    def __init__(self, oracle_sql: str, areas_path: str, forecasts_path: str):
        self.sql = oracle_sql.replace(f"'{areas_path}'", "bench_areas").replace(
            f"'{forecasts_path}'", "bench_forecasts"
        )
        if self.sql == oracle_sql:
            raise ValueError("caic_pipeline oracle no longer reads the fixture paths")
        self.con = duckdb.connect()
        self.con.execute(DUCK_SETTINGS)

    def close(self) -> None:
        self.con.close()

    def check(self, areas_json: str, forecasts_json: str, submitted: str) -> str | None:
        areas = pa.Table.from_pylist(json.loads(areas_json)["features"], AREAS_ARROW)
        fcs = pa.Table.from_pylist(json.loads(forecasts_json)["features"], FORECASTS_ARROW)
        self.con.register("bench_areas", areas)
        self.con.register("bench_forecasts", fcs)
        try:
            rel = self.con.sql(self.sql)
            cols = [d[0] for d in rel.description]
            want = []
            for row in rel.fetchall():
                d = dict(zip(cols, row))
                geometry = json.loads(d.pop("geometry_json"))
                d.pop("geometry_type")
                fid = d.pop("id")
                d["metadata"] = json.loads(d["metadata"])
                want.append(_feature_key(fid, d, geometry))
        finally:
            self.con.unregister("bench_areas")
            self.con.unregister("bench_forecasts")
        got = [
            _feature_key(f["id"], f["properties"], f["geometry"])
            for f in json.loads(submitted)["features"]
        ]
        if len(got) != len(want):
            return f"feature count submitted={len(got)} duck={len(want)}"
        if value_hash(["feature"], got) != value_hash(["feature"], want):
            return f"feature-hash mismatch ({len(got)} features)"
        return None
