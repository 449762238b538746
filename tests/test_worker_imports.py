"""The extraction UDF leaves no zip importer cached when a partition ends,
so the next task on a reused Python worker does not re-read every archive
on ``sys.path`` when pyspark calls ``importlib.invalidate_caches()``. No
Spark needed: the UDF runs over one pandas batch with no TaskContext."""

from __future__ import annotations

import sys
import zipfile
import zipimport

import pandas as pd

from pii_core.pipeline import ExtractConfig, extract_page_batch
from pii_spark.extract import _extract_batches
from pii_spark.synth import gen_pages


def _zip_importers() -> list[str]:
    return [p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)]


def test_extraction_drops_zip_importers_and_imports_still_resolve(tmp_path):
    archive = tmp_path / "wi_mods.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("wi_first_mod.py", "VALUE = 1\n")
        zf.writestr("wi_second_mod.py", "VALUE = 2\n")
    saved_path = list(sys.path)
    saved_modules = set(sys.modules)
    sys.path.insert(0, str(archive))
    try:
        import wi_first_mod

        assert wi_first_mod.VALUE == 1
        assert str(archive) in _zip_importers()

        pages = list(gen_pages(12, seed=5))
        pdf = pd.DataFrame({"url": [p["url"] for p in pages],
                            "html": [p["html"] for p in pages],
                            "text": [p["text"] for p in pages]})
        out = pd.concat(list(_extract_batches(ExtractConfig())(iter([pdf]))))

        assert _zip_importers() == []
        import wi_second_mod

        assert wi_second_mod.VALUE == 2
        assert wi_second_mod.__file__.startswith(str(archive))

        expect = extract_page_batch(
            [(p["url"], p["html"], p["text"]) for p in pages])
        assert set(out["partition_id"]) == {-1}
        assert out["error"].isna().all()
        got = out[["url", "extracted_text", "spans",
                   "should_be_public"]].to_dict("records")
        assert got == expect
    finally:
        sys.path[:] = saved_path
        for name in set(sys.modules) - saved_modules:
            del sys.modules[name]
        sys.path_importer_cache.pop(str(archive), None)
