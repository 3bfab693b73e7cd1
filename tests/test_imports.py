"""Every module of the package imports: a module left importing deleted
code fails here, not as a collection error that
``--continue-on-collection-errors`` lets pass."""

from __future__ import annotations

import importlib
import pkgutil

import pdf_ocr_spark


def test_every_module_imports():
    names = [
        m.name
        for m in pkgutil.walk_packages(
            pdf_ocr_spark.__path__, prefix="pdf_ocr_spark."
        )
    ]
    assert "pdf_ocr_spark.extract.pipeline" in names
    for name in names + ["__spark_entry__"]:
        importlib.import_module(name)


def test_perfbench_contract_import():
    """perfbench's contract layer imports the typed contract from here."""
    from pdf_ocr_spark.queries.extract_q import _X16_CONTRACT

    assert set(_X16_CONTRACT) == {"schema", "types", "rules"}
