"""Package curator_spark into dist/curator_spark.zip for spark-submit
--py-files distribution (the model data — lexicons, LM training corpus — is
source-embedded, so the zip is the complete executor-side artifact)."""

from __future__ import annotations

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build(out: str) -> str:
    """Write every ``curator_spark/**/*.py`` into the zip at ``out``."""
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = os.path.join(REPO, "curator_spark")
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    return out


def main() -> str:
    out_dir = os.path.join(REPO, "dist")
    os.makedirs(out_dir, exist_ok=True)
    out = build(os.path.join(out_dir, "curator_spark.zip"))
    print(out)
    return out


if __name__ == "__main__":
    main()
