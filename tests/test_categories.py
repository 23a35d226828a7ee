"""Parameter categories as catalog state (reference
schema.sql:162-176): DML validation rules are loaded from the
catalog's parameter_categories table, not a hard-coded dict."""

import json

import pytest

from metacat_spark.catalog import from_tpch
from metacat_spark.dml import DML, AlreadyExists, ValidationFailed
from metacat_spark.validation import CATEGORY_COLUMNS
from tests.conftest import SF_DIR


@pytest.fixture()
def cat(spark):
    return from_tpch(spark, SF_DIR)


def test_default_table_drives_validation(cat):
    """The fixture catalog carries the default category rows; DML
    validates against the TABLE (core.run required int, data.*
    restricted; any other category is free-form)."""
    dml = DML(cat)
    dml.validate({"astro.ra": "anything"})
    with pytest.raises(ValidationFailed):
        dml.validate({"core.x": 1.0})          # core.run required
    with pytest.raises(ValidationFailed):
        dml.validate({"data.unknown_key": 1})  # restricted category
    dml.validate({"core.run": 3, "core.x": 1.0})


def test_custom_table_rows_drive_validation(cat, spark):
    """Swapping the table swaps the rules — no code change."""
    rows = [("astro", True, json.dumps({
        "astro.ra": {"type": "float", "min": 0.0, "max": 360.0},
        "astro.dec": {"type": "float", "min": -90.0, "max": 90.0},
    }), "admin", "", "admin")]
    cat.publish(parameter_categories=spark.createDataFrame(
        rows, CATEGORY_COLUMNS))
    dml = DML(cat)
    dml.validate({"core.x": 99.0})             # core's max is gone
    dml.validate({"astro.ra": 10.5, "astro.dec": -45.0})
    with pytest.raises(ValidationFailed):
        dml.validate({"astro.ra": 400.0})      # out of range
    with pytest.raises(ValidationFailed):
        dml.validate({"astro.color": "red"})   # restricted
    # core is no longer a known category -> unrestricted free-form
    dml.validate({"core.whatever": "ok"})


def test_create_parameter_category(cat):
    dml = DML(cat)
    dml.create_parameter_category(
        "sim", definitions={
            "sim.engine": {"type": "text",
                           "values": ["geant4", "fluka"]}},
        restricted=True)
    # registered in the table AND active for validation
    assert cat.parameter_categories.where(
        "path = 'sim'").count() == 1
    dml.validate({"sim.engine": "geant4"})
    with pytest.raises(ValidationFailed):
        dml.validate({"sim.engine": "mcnp"})
    with pytest.raises(ValidationFailed):
        dml.validate({"sim.other": 1})
    with pytest.raises(AlreadyExists):
        dml.create_parameter_category("sim")
    # a fresh DML over the same catalog sees the new category (state
    # lives in the table, not the DML instance)
    dml2 = DML(cat)
    dml2.validate({"sim.engine": "fluka"})
    with pytest.raises(ValidationFailed):
        dml2.validate({"sim.other": 1})        # restricted


def test_cli_category_roundtrip(capsys):
    from metacat_spark import cli
    rc = cli.main(["category", "list", "--sf-dir", SF_DIR])
    out = capsys.readouterr().out
    assert rc == 0 and "core" in out and "data" in out
    cli.main(["category", "show", "core", "--sf-dir", SF_DIR])
    out = capsys.readouterr().out
    d = json.loads(out)
    assert d["definitions"]["core.run"]["type"] == "int"
    cli.main(["category", "create", "cli_cat", "--restricted",
              "--defs", '{"cli_cat.k": {"type": "int"}}',
              "--sf-dir", SF_DIR])
    capsys.readouterr()
    cli.main(["category", "list", "cli_cat", "--sf-dir", SF_DIR])
    out = capsys.readouterr().out
    assert "cli_cat" in out and "True" in out
