"""tools/code_lines.py: code lines without blanks, comments and
docstrings, per file and per named function; where the CDC state
format may appear in ``streaming/pipeline.py``, and where the wire
form of a type is decided in ``operators/envelope.py`` (no Spark)."""

from __future__ import annotations

import ast
import textwrap
from pathlib import Path

import pytest

from tools.code_lines import code_lines, count, docstring_lines, main

PACKAGE = Path(__file__).resolve().parents[1] / "kafka_connect_postgres_to_clickhouse_spark"
PIPELINE = PACKAGE / "streaming" / "pipeline.py"
ENVELOPE = PACKAGE / "operators" / "envelope.py"
SESSION = PACKAGE / "session.py"

SOURCE = textwrap.dedent(
    '''\
    """Module docstring,
    two lines."""

    import os  # a trailing comment keeps the line

    # a comment line


    def f(a,
          b):
        """One-line docstring."""
        return a + b


    @staticmethod
    def g():
        """Docstring
        over three
        lines."""
        sql = """
        SELECT 1
        """
        return sql


    class C:
        """Class docstring."""

        def m(self):
            return os.sep
    '''
)


def test_blanks_comments_and_docstrings_do_not_count():
    lines = code_lines(SOURCE)
    # import; def f (2 lines) + return; decorator, def g, the 3-line
    # string assignment, return; class C, def m, return
    assert sorted(lines) == [4, 9, 10, 12, 15, 16, 20, 21, 22, 23, 26, 29, 30]
    assert docstring_lines(ast.parse(SOURCE)) == {1, 2, 11, 17, 18, 19, 27}


def test_named_functions_and_rest():
    out = count(SOURCE, ["f", "g"])
    assert out["<file>"] == 13
    assert out["f"] == 3
    assert out["g"] == 6  # the decorator belongs to the function
    assert out["<named>"] == 9
    assert out["<rest>"] == 4
    assert count(SOURCE, ["C"])["C"] == 3
    assert count(SOURCE) == {"<file>": 13}


def test_unknown_name_raises():
    with pytest.raises(KeyError):
        count(SOURCE, ["m"])  # a method, not a top-level definition


def test_main_prints_counts(tmp_path, capsys):
    path = tmp_path / "mod.py"
    path.write_text(SOURCE)
    assert main([str(path), "f,g"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert [line.split() for line in out] == [
        ["13", str(path)], ["3", "f"], ["6", "g"], ["9", "<named>"], ["4", "<rest>"],
    ]
    assert main([str(path), "nope"]) == 2
    assert main([]) == 2


def _holders(tree: ast.Module, match) -> set[str]:
    """Names of the top-level definitions (``<module>`` for module-level
    statements) holding a node for which ``match`` is true, docstrings
    left out."""
    docs = docstring_lines(tree)
    return {
        getattr(top, "name", "<module>")
        for top in tree.body
        for node in ast.walk(top)
        if getattr(node, "lineno", None) not in docs and match(node)
    }


def _literal(text: str):
    def match(node):
        return isinstance(node, ast.Constant) and text in str(node.value)

    return match


def test_state_format_stays_in_its_functions():
    """The on-disk state format lives in ``_write_version`` (the one
    writer, and the only sort of state rows by bucket), ``_read_manifest``
    (the one reader of manifests, which reads no older format),
    ``_open_state`` (the one open of a snapshot, and the one refusal of
    a version that records no schema) and ``_read_buckets`` (the one
    parquet reader of state); ``_CURRENT`` is named by
    ``_current_marker`` alone.  Only ``_open_state`` and the prune read
    manifests, and only ``_write_dead_letters`` names a ``batch_id=``
    directory.  No state is written as one directory per bucket.  A
    format change then edits those functions and no other."""
    tree = ast.parse(PIPELINE.read_text())

    def calls(attr):
        def match(n):
            return isinstance(n, ast.Call) and getattr(n.func, "attr", None) == attr

        return match

    def calls_function(name):
        def match(n):
            return isinstance(n, ast.Call) and getattr(n.func, "id", None) == name

        return match

    assert _holders(tree, calls("partitionBy")) == set()
    assert _holders(tree, calls("sortWithinPartitions")) == {"_write_version"}
    assert _holders(tree, _literal("_MANIFEST.json")) == {"_write_version", "_read_manifest"}
    assert _holders(tree, _literal("_BATCH_ID")) == set()
    assert _holders(tree, _literal("flat")) == set()
    assert _holders(tree, _literal("_CURRENT")) == {"_current_marker"}
    assert _holders(tree, calls_function("_read_manifest")) == {
        "_open_state", "prune_state_versions",
    }
    docs = docstring_lines(tree)
    refusals = [
        n for n in ast.walk(tree)
        if getattr(n, "lineno", None) not in docs and _literal("records no schema")(n)
    ]
    assert len(refusals) == 1
    assert _holders(tree, _literal("records no schema")) == {"_open_state"}
    assert _holders(tree, _literal("batch_id=")) == {"_write_dead_letters"}


def test_wire_codec_stays_in_one_function():
    """How a Spark type travels on the Debezium wire is decided in
    ``_codec`` alone: no other code of ``envelope.py`` names a
    timestamp or decimal type or their wire conversions.  The envelope
    is parsed by one ``from_json`` (the decode step the value and key
    parsers share), and the key has no builder of its own."""
    tree = ast.parse(ENVELOPE.read_text())

    def names(name):
        def match(n):
            return getattr(n, "attr", None) == name or getattr(n, "id", None) == name

        return match

    for name in ("TimestampType", "DecimalType", "unix_micros", "timestamp_micros", "unbase64"):
        assert _holders(tree, names(name)) == {"_codec"}, name
    docs = docstring_lines(tree)
    parses = [
        n for n in ast.walk(tree)
        if getattr(n, "lineno", None) not in docs and names("from_json")(n)
    ]
    assert len(parses) == 1
    assert "build_key_json" not in {
        n.name for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)
    }


def _is_environ(node) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr in ("environ", "getenv")
        and getattr(node.value, "id", None) == "os"
    )


def test_session_conf_has_one_table():
    """``session.py`` reads only the two deployment settings from the
    environment, and every conf key ``tune`` sets is written once in the
    file: ``get_spark`` fixes only build-time confs and leaves the
    runtime ones to ``tune``."""
    tree = ast.parse(SESSION.read_text())
    reads = [
        node.args[0].value  # os.environ.get("NAME", ...)
        for node in ast.walk(tree)
        if isinstance(node, ast.Call) and _is_environ(getattr(node.func, "value", None))
    ]
    assert sorted(reads) == ["SPARK_DRIVER_MEMORY", "SPARK_GRAFT_CPUS"]
    # no other access: os.environ["NAME"] or os.getenv("NAME")
    assert sum(1 for node in ast.walk(tree) if _is_environ(node)) == len(reads)

    tune = next(n for n in tree.body if getattr(n, "name", None) == "tune")
    keys = {
        node.elts[0].value  # ("spark.sql...", value) rows of the table
        for node in ast.walk(tune)
        if isinstance(node, ast.Tuple) and len(node.elts) == 2
        and isinstance(node.elts[0], ast.Constant)
    } | {
        node.args[0].value  # hadoopConfiguration().set("parquet...", value)
        for node in ast.walk(tune)
        if isinstance(node, ast.Call) and getattr(node.func, "attr", None) == "set"
        and node.args and isinstance(node.args[0], ast.Constant)
    }
    assert {"spark.sql.files.minPartitionNum", "parquet.block.size"} <= keys
    literals = [
        node.value for node in ast.walk(tree)
        if isinstance(node, ast.Constant) and isinstance(node.value, str)
    ]
    assert {key: literals.count(key) for key in keys} == dict.fromkeys(keys, 1)
