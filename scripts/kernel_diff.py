"""Compare the extraction kernel's output of two source trees, column by
column and url by url.

    python scripts/kernel_diff.py BASE_TREE HEAD_TREE

The inputs are generated once, by the tree this script belongs to: 20,000
``synthetic_pages_df`` pages (seed 5), 32 ``skewed_pages_df`` pages with
``heavy_lines=300``, and ``tests/test_frontend.twin_rows`` (every PDF
dialect, hostile HTML, degenerate payloads). Each tree then runs
``fused.extract_documents`` under both models in its own interpreter and
local Spark session, with the tree as the working directory and as the
``PYTHONPATH`` of the driver and of the Python workers. Every output
column is compared per url, nested mentions (``Blocks``, ``BoundingBox``,
``Confidence``) and fields (``Values``) included; any difference exits
non-zero.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MODELS = ("sql-stub", "window-stub")

_STAGE = """
import sys
root, out = sys.argv[1:3]
sys.path.append(root + "/tests")
from pyspark.sql import functions as F
from amazon_textract_transformer_pipeline_spark.session import get_spark
from amazon_textract_transformer_pipeline_spark.sources import (
    skewed_pages_df, synthetic_pages_df)
from test_frontend import twin_rows
spark = get_spark("kernel_diff-stage", cores=2, extra_conf={
    "spark.ui.showConsoleProgress": "false"})
odd = spark.createDataFrame(
    [(u, None if h is None else bytearray(h)) for u, h in twin_rows()],
    "url string, html binary")
skew = skewed_pages_df(spark, 32, seed=5, heavy_lines=300) \\
    .select(F.concat(F.lit("skew:"), "url").alias("url"), "html")
synthetic_pages_df(spark, 20_000, seed=5).select("url", "html") \\
    .unionByName(skew).unionByName(odd).write.parquet(out)
spark.stop()
"""

_RUN = """
import sys
pages, out = sys.argv[2:4]
from amazon_textract_transformer_pipeline_spark.config import DEMO_CONFIG
from amazon_textract_transformer_pipeline_spark.operators.fused import (
    extract_documents)
from amazon_textract_transformer_pipeline_spark.session import get_spark
spark = get_spark("kernel_diff", cores=2, extra_conf={
    "spark.ui.showConsoleProgress": "false"})
for model in sys.argv[4:]:
    extract_documents(spark.read.parquet(pages), DEMO_CONFIG, model=model) \\
        .write.parquet(f"{out}/{model}")
spark.stop()
"""


def _python(tree: str, code: str, *args: str) -> None:
    """Run ``code`` in a fresh interpreter that imports the package from
    ``tree``, and so do its Spark workers (they inherit cwd and env)."""
    subprocess.run([sys.executable, "-c", code, tree, *args], check=True,
                   cwd=tree, env={**os.environ, "PYTHONPATH": tree},
                   stdout=subprocess.DEVNULL)


def _diff(base_dir: str, head_dir: str) -> tuple[int, list[str]]:
    """The row count, and one line per differing column: its name, the
    differing url count and the first url."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    base, head = (pq.read_table(d) for d in (base_dir, head_dir))
    base, head = (t.take(pc.sort_indices(t, [("url", "ascending")]))
                  for t in (base, head))
    if base.column("url") != head.column("url"):
        return head.num_rows, [
            f"url sets differ: {base.num_rows} vs {head.num_rows} rows"]
    urls = base.column("url").to_pylist()
    out = []
    for name in head.column_names:
        if name not in base.column_names:
            out.append(f"{name}: only in head")
        elif not base.column(name).equals(head.column(name)):
            bad = [u for u, b, h in zip(urls, base.column(name).to_pylist(),
                                        head.column(name).to_pylist())
                   if b != h]
            out.append(f"{name}: {len(bad)} urls differ, first {bad[:1]}")
    out += [f"{n}: only in base" for n in base.column_names
            if n not in head.column_names]
    return head.num_rows, out


def main(argv: list[str]) -> int:
    base, head = (str(Path(t).resolve()) for t in argv[1:3])
    with tempfile.TemporaryDirectory(prefix="kernel_diff-") as tmp:
        pages = f"{tmp}/pages"
        _python(str(ROOT), _STAGE, pages)
        for name, tree in (("base", base), ("head", head)):
            _python(tree, _RUN, pages, f"{tmp}/{name}", *MODELS)
        failed = False
        for model in MODELS:
            rows, diff = _diff(f"{tmp}/base/{model}", f"{tmp}/head/{model}")
            print(f"{model}: {rows} documents, "
                  + ("every column identical" if not diff else "DIFFERENT"))
            for line in diff:
                print(f"  {line}")
            failed |= bool(diff)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
