"""README usage commands name scripts that exist, so a deleted script can't
linger in the docs."""

from __future__ import annotations

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_readme_usage_scripts_exist():
    with open(os.path.join(REPO, "README.md")) as f:
        blocks = re.findall(r"```bash\n(.*?)```", f.read(), re.S)
    scripts = re.findall(r"^python (\S+\.py)\b", "".join(blocks), re.M)
    assert scripts, "README has no `python <script>.py` usage lines"
    missing = [s for s in scripts if not os.path.isfile(os.path.join(REPO, s))]
    assert not missing, missing
