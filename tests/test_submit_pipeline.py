"""tools/submit_pipeline.py, the spark-submit CLI: a batch run is one
run_pipeline call against the store, and a re-run resumes.

``run(spark, args)`` takes the test session, so the CLI runs without a
process of its own."""

import importlib.util
from pathlib import Path

import pytest

from open_vector_tile_spark.operators import TileStore, run_pipeline
from open_vector_tile_spark.sources import pages_pdf, pois_pdf, polygons_pdf

REPO = Path(__file__).resolve().parents[1]
ZOOM = 4


@pytest.fixture(scope="module")
def cli():
    spec = importlib.util.spec_from_file_location(
        "submit_pipeline_under_test", str(REPO / "tools" / "submit_pipeline.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _tiles(df):
    return sorted(
        (r["zoom"], r["tile_x"], r["tile_y"], bytes(r["tile"])) for r in df.collect()
    )


def test_cli_publishes_run_pipeline_tiles_and_resumes(spark, cli, tmp_path, capsys):
    pages_dir = str(tmp_path / "pages")
    spark.createDataFrame(pages_pdf(400)).write.parquet(pages_dir)
    store_dir = str(tmp_path / "store")
    args = cli.parse_args(
        ["--pages", pages_dir, "--store", store_dir, "--zoom", str(ZOOM), "--pois"]
    )

    first = cli.run(spark, args)
    assert "committed snapshot=0" in capsys.readouterr().err
    store = TileStore(store_dir)
    want = _tiles(
        run_pipeline(spark.read.parquet(pages_dir), polygons_pdf(), pois_pdf(200), zoom=ZOOM)
    )
    assert want and _tiles(store.read_tiles(spark)) == want
    assert first["tiles"] == len(want) and first["snapshots"] == 1

    second = cli.run(spark, args)
    assert "nothing pending" in capsys.readouterr().err
    assert store.snapshots() == ["snapshot=0"]
    assert {k: v for k, v in second.items() if k != "wall_sec"} == {
        k: v for k, v in first.items() if k != "wall_sec"
    }


def test_cli_options(cli):
    args = cli.parse_args(["--pages", "p", "--store", "s"])
    assert vars(args) == {
        "pages": "p",
        "store": "s",
        "zoom": 10,
        "extent": 4096,
        "pois": False,
        "incremental": False,
        "checkpoint": None,
    }
