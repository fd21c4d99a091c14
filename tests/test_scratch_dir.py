"""Query scratch directories: one per-process root, removed at exit."""

import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_scratch_dirs_are_removed_at_exit(tmp_path):
    code = (
        "from data_pipeline_package_for_python_spark.operators._util "
        "import scratch_dir\n"
        "a, b = scratch_dir('dpp_a_'), scratch_dir('dpp_b_')\n"
        "open(a + '/f.txt', 'w').write('x')\n"
        "assert os.path.dirname(a) == os.path.dirname(b)\n"
        "print(a)\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", "import os\n" + code],
        cwd=REPO, env=env, capture_output=True, text=True, check=True,
    )
    made = out.stdout.strip()
    assert made.startswith(str(tmp_path)), made  # it honoured $TMPDIR
    assert not os.path.exists(made)
    assert [p for p in os.listdir(tmp_path) if p.startswith("dpp_")] == []


def test_queries_make_no_bare_tempdirs():
    """A query's scratch files go through ``_util.scratch_dir``; a bare
    ``tempfile.mkdtemp(`` would outlive the process."""
    qdir = os.path.join(
        REPO, "data_pipeline_package_for_python_spark", "queries"
    )
    hits = []
    for name in sorted(os.listdir(qdir)):
        if name.endswith(".py"):
            with open(os.path.join(qdir, name)) as fh:
                for i, line in enumerate(fh, 1):
                    if re.search(r"\bmkdtemp\(", line):
                        hits.append(f"{name}:{i}")
    assert hits == [], hits
