"""The reference's two real OSM extracts (FIXTURES.md section 1).

A test that asserts a golden of one of these files runs wherever the file
exists; elsewhere it is reported as skipped, with the missing path as the
reason. Its expected values stay those of the real file."""

import os

import pytest

from osm_pbf2json_spark.sources.fixtures import REFERENCE_DATA


def reference_pbf(name: str) -> str:
    return os.path.join(REFERENCE_DATA, f"{name}.pbf")


def skip_reason(name: str) -> str:
    return f"{reference_pbf(name)} is missing: this test asserts a golden of that reference extract"


def needs_reference(name: str):
    """skipif mark for a test that reads the reference's `<name>.pbf`."""
    return pytest.mark.skipif(
        not os.path.exists(reference_pbf(name)), reason=skip_reason(name)
    )
