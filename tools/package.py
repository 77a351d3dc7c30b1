"""Build kgpipe.zip for spark-submit --py-files (BASELINE.json north_rule:
"run via spark-submit --py-files on a multi-executor cluster").

Usage:
  python tools/package.py [out.zip]
  spark-submit --py-files kgpipe.zip tools/submit_run.py run \
      --input ... --dict ... --work ...
"""

from __future__ import annotations

import os
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build(out: str = "kgpipe.zip") -> str:
    out = os.path.join(REPO, out)
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = os.path.join(REPO, "kgpipe")
        for name in sorted(os.listdir(pkg)):
            if name.endswith(".py"):
                z.write(os.path.join(pkg, name), f"kgpipe/{name}")
    return out


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else "kgpipe.zip"))
