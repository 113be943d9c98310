"""Doc-drift guards, Spark-free (they parse source and markdown):

* every ``spark.graphframes.*`` key the package reads is documented in the
  README ``## Configuration`` table, and the table lists no key the package
  does not read;
* every script or captured plan file that the docs, the package or the
  tests cite by path still exists.
"""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
KEY = re.compile(r"spark\.graphframes\.[A-Za-z0-9_.]+")
# a root-level benchmark script, a tools/ script or a captured plans/r<N>/ file
CITATION = re.compile(r"(?<![\w.-])(?:bench\.py|tools/[\w.-]+\.py|plans/r\d+/[\w.-]+)")


def _source_keys():
    keys = set()
    for path in (ROOT / "graphframes_rs_spark").rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and KEY.fullmatch(node.value)
            ):
                keys.add(node.value)
    return keys


def _readme_keys():
    section = (ROOT / "README.md").read_text().split("\n## Configuration\n", 1)[1]
    section = section.split("\n## ", 1)[0]
    return {
        m.group(1)
        for m in re.finditer(r"^\| `(spark\.graphframes\.[^`]+)` \|", section, re.M)
    }


def test_readme_config_table_matches_source_keys():
    source, readme = _source_keys(), _readme_keys()
    assert source, "no spark.graphframes.* keys found in the package"
    assert source - readme == set(), "keys read by the package but missing from README"
    assert readme - source == set(), "README keys the package never reads"


def test_cited_paths_exist():
    files = [ROOT / "README.md", ROOT / ".claude" / "skills" / "verify" / "SKILL.md"]
    for top in ("graphframes_rs_spark", "tests"):
        files += sorted((ROOT / top).rglob("*.py"))
    dangling = [
        f"{path.relative_to(ROOT)}: {cited}"
        for path in files
        for cited in {m.rstrip(".") for m in CITATION.findall(path.read_text())}
        if not (ROOT / cited).exists()
    ]
    assert dangling == [], "citations of paths that do not exist"
