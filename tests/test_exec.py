"""The single points of the execution layer: one query-registration
point (datarepo_spark/queries/__init__.py), one plan byte-size probe
(core.exec.plan_bytes) and the Hadoop-FileSystem stream-trigger probe."""

import glob
import json
import os
import re
import subprocess
import sys

from datarepo_spark.core.exec import plan_bytes

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERY_MODULES = [
    "registry",
    "extensions",
    "tpch_extra",
    "delta_queries",
    "physical",
    "sources",
    "analysis",
    "insights",
    "ranked",
]


def test_registry_import_registers_every_query_in_module_order():
    """Importing the registry module alone must register every
    ``@register("…")`` name in the package, module by module in the
    package's import order (REGISTRY's insertion order is the order of
    ``__spark_entry__.queries()``). Runs in a fresh interpreter so no other test's
    imports can register anything first."""
    scanned = set()
    for path in glob.glob(os.path.join(ROOT, "datarepo_spark/queries/*.py")):
        with open(path) as fh:
            scanned |= set(re.findall(r'@register\(\s*"([^"]+)"', fh.read()))
    probe = (
        "import json\n"
        "import datarepo_spark.queries.registry as r\n"
        "mods = []\n"
        "for q in r.REGISTRY.values():\n"
        "    m = q.spark_fn.__module__.rsplit('.', 1)[-1]\n"
        "    if m not in mods:\n"
        "        mods.append(m)\n"
        "print(json.dumps([list(r.REGISTRY), mods]))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    names, mods = json.loads(out.strip().splitlines()[-1])
    assert set(names) == scanned
    assert mods == QUERY_MODULES


def test_plan_bytes_is_the_scanned_file_size(spark, sf_dir):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    on_disk = sum(
        os.path.getsize(uri[len("file:"):] if uri.startswith("file:") else uri)
        for uri in docs.inputFiles()
    )
    assert on_disk > 0
    assert plan_bytes(docs.select("doc_id", "text")) == on_disk


def test_plan_bytes_is_zero_without_file_input(spark, sf_dir):
    rdd_backed = spark.createDataFrame(
        spark.sparkContext.parallelize([(1, "a")]), ["doc_id", "text"]
    )
    assert plan_bytes(rdd_backed) == 0
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    assert plan_bytes(docs.select("doc_id").localCheckpoint()) == 0


def test_stream_trigger_probe_reads_uris_like_paths(spark, tmp_path):
    from datarepo_spark.queries.sources import _largest_file_bytes

    (tmp_path / "a.json").write_bytes(b"x" * 10)
    (tmp_path / "b.json").write_bytes(b"x" * 25)
    (tmp_path / "sub").mkdir()
    bare = str(tmp_path)
    assert _largest_file_bytes(spark, bare) == 25
    assert _largest_file_bytes(spark, "file://" + bare) == 25
    assert _largest_file_bytes(spark, str(tmp_path / "missing")) == 0
