"""The generated inputs have the schemas and row counts of the engine's
oracle fixtures at the same scale, and do not depend on a run's seed."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import datagen
from tests.conftest import SF_ORACLE
from workloads import DATA_SEED, SF

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _fields(schema: pa.Schema) -> list[tuple[str, str]]:
    # list element names ("item" / "element") differ between writers
    return [(f.name, str(f.type).replace("element:", "item:")) for f in schema]


@pytest.mark.skipif(not os.path.isdir(SF_ORACLE), reason="oracle fixtures absent")
def test_generated_tables_match_the_oracle_fixtures(tmp_path):
    assert SF_ORACLE.rstrip("/").endswith(f"sf{SF}")
    out = datagen.generate(str(tmp_path), DATA_SEED, SF)
    for name in TABLES:
        gen = pq.ParquetFile(os.path.join(out, f"{name}.parquet"))
        fix = pq.ParquetFile(os.path.join(SF_ORACLE, f"{name}.parquet"))
        assert _fields(gen.schema_arrow) == _fields(fix.schema_arrow), name
        assert gen.metadata.num_rows == fix.metadata.num_rows, name


def test_generation_is_deterministic():
    a, b = datagen.tables(DATA_SEED, 0.001), datagen.tables(DATA_SEED, 0.001)
    for name in TABLES:
        assert a[name].equals(b[name]), name
