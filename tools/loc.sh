#!/usr/bin/env bash
# Tracked main-code size: non-blank, non-comment lines of every Scala
# file under src/main/scala. Run from anywhere inside the repo.
set -euo pipefail
cd "$(git rev-parse --show-toplevel)"
cat $(find src/main/scala -name '*.scala') | grep -cvE '^\s*($|//|\*|/\*)'
