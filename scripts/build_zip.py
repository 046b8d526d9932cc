"""Build miekki.zip for spark-submit --py-files (SURVEY.md §3.3)."""

import os
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "miekki.zip")

with zipfile.ZipFile(OUT, "w") as z:
    for pkg in ("miekki", "oracle"):
        for root, _, files in os.walk(os.path.join(REPO, pkg)):
            for f in sorted(files):
                # .c: miekki/native.py builds the kernels from the zip
                if f.endswith((".py", ".c")):
                    p = os.path.join(root, f)
                    z.write(p, os.path.relpath(p, REPO))
print(OUT)
