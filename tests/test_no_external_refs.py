"""In-repo leak-check (VERDICT r9 next #7): enforce at commit time
what the driver's LEAKCHECK scan judges after the fact — no network
URLs, no cloud-bucket schemes, no secret-looking literals, and no
imports outside the sandbox's public allowlist anywhere in the
shipped package or its entry points.

Everything here must derive from public knowledge only (the task
contract), so the package may reference exactly: the Python standard
library, the baked-in public deps (pyspark/pandas/numpy/pyarrow/
duckdb/pytest/hypothesis), the guarded-optional public yfinance, and
itself. Any other import — and any URL, bucket URI, or credential
pattern — is a leak or a supply-chain surprise and fails the suite.
"""

from __future__ import annotations

import ast
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

#: source trees the driver ships / executes (tests excluded: they may
#: name fixtures freely, and the driver's scan covers them separately)
SCAN_ROOTS = [
    REPO / "stock_indicators_etl_spark",
    REPO / "scripts",
    REPO / "examples",
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
]

#: public imports the sandbox bakes in, plus the stdlib; yfinance is
#: the reference's (guarded, injectable) public market-data dep
ALLOWED_THIRD_PARTY = {
    "pyspark",
    "pandas",
    "numpy",
    "pyarrow",
    "duckdb",
    "pytest",
    "hypothesis",
    "yfinance",
    # public Apache Airflow — examples/airflow_dag.py mirrors the
    # reference's deployment shape; never imported by the package
    "airflow",
    "stock_indicators_etl_spark",
    "__spark_entry__",
    "bench",
}

#: sibling-script imports (e.g. check_invariance reuses check_oracle's
#: canonical renderer) are repo-local — but ONLY when the importing
#: file itself lives under scripts/ (ADVICE r11: auto-allowing these
#: stems everywhere would let a genuinely external import that happens
#: to collide with a script name slip through the package scan)
SCRIPT_LOCAL_STEMS = {p.stem for p in (REPO / "scripts").glob("*.py")}

LEAK_PATTERNS = {
    "network-url": re.compile(r"https?://", re.IGNORECASE),
    "bucket-uri": re.compile(
        r"\b(?:s3a?|gs|abfss?|wasbs?|adl|cos|oss)://", re.IGNORECASE
    ),
    "aws-access-key": re.compile(r"\bAKIA[0-9A-Z]{16}\b"),
    "private-key-block": re.compile(r"-----BEGIN [A-Z ]*PRIVATE KEY-----"),
    "slack-link": re.compile(r"\bslack\.com/|\bhooks\.slack\b", re.IGNORECASE),
    "bearer-token": re.compile(r"\bBearer\s+[A-Za-z0-9_\-.]{20,}"),
}


def _py_files():
    for root in SCAN_ROOTS:
        if root.is_file():
            yield root
        else:
            yield from sorted(root.rglob("*.py"))


def test_no_urls_buckets_or_secrets():
    hits = []
    for path in _py_files():
        text = path.read_text(encoding="utf-8", errors="replace")
        for lineno, line in enumerate(text.splitlines(), 1):
            for kind, pat in LEAK_PATTERNS.items():
                if pat.search(line):
                    hits.append(f"{path.relative_to(REPO)}:{lineno} [{kind}] {line.strip()[:100]}")
    assert not hits, "external-reference leak(s):\n" + "\n".join(hits)


def test_only_public_imports():
    stdlib = set(sys.stdlib_module_names)
    bad = []
    for path in _py_files():
        try:
            tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
        except SyntaxError as e:  # a syntax error is its own failure
            bad.append(f"{path.relative_to(REPO)}: syntax error {e}")
            continue
        allowed = ALLOWED_THIRD_PARTY
        if (REPO / "scripts") in path.parents:
            allowed = ALLOWED_THIRD_PARTY | SCRIPT_LOCAL_STEMS
        for node in ast.walk(tree):
            names = []
            if isinstance(node, ast.Import):
                names = [a.name.split(".")[0] for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
                names = [node.module.split(".")[0]]
            for name in names:
                if name not in stdlib and name not in allowed:
                    bad.append(
                        f"{path.relative_to(REPO)}:{node.lineno} imports {name!r}"
                    )
    assert not bad, "non-public import(s):\n" + "\n".join(bad)


def test_no_env_var_secrets():
    """os.environ reads must use the repo's own SPARK_GRAFT_* /
    standard Spark-Java names — an unexpected env var is how internal
    endpoints sneak in."""
    allowed = re.compile(
        r"^(SPARK_GRAFT_\w+|JAVA_HOME|SPARK_\w+|PYSPARK_\w+|TZ|HOME|PATH|TMPDIR"
        # the XDG base-dir cache root, where get_spark keeps its
        # class-data archives: a local directory, not an endpoint
        r"|XDG_CACHE_HOME"
        # the reference's own env config surface (SURVEY §2 S6):
        # local output directories, not endpoints
        r"|YAHOO_BASE|INDICATOR_BASE)$"
    )
    env_re = re.compile(
        r"""os\.environ(?:\.get)?[([]\s*['"]([A-Za-z0-9_]+)['"]"""
    )
    bad = []
    for path in _py_files():
        for lineno, line in enumerate(
            path.read_text(encoding="utf-8", errors="replace").splitlines(), 1
        ):
            for m in env_re.finditer(line):
                if not allowed.match(m.group(1)):
                    bad.append(
                        f"{path.relative_to(REPO)}:{lineno} env {m.group(1)!r}"
                    )
    assert not bad, "unexpected env var read(s):\n" + "\n".join(bad)
