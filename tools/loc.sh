#!/bin/bash
# Line counts of the main sources (src/main/**/*.scala) of the checkout this
# script sits in: all lines, non-comment non-blank lines (a line is a comment
# when it starts with //, * or /*), and the five largest files.
# Usage: tools/loc.sh
set -euo pipefail
cd "$(dirname "${BASH_SOURCE[0]}")/.."
files() { find src/main -name '*.scala' -print0 | sort -z; }
all=$(files | xargs -0 cat | wc -l)
code=$(files | xargs -0 cat | grep -vE '^\s*$' | grep -vE '^\s*(//|\*|/\*)' | wc -l)
echo "main lines (all):            $all"
echo "main lines (non-comment, non-blank): $code"
echo "largest files (all lines):"
files | xargs -0 wc -l | grep -v ' total$' | sort -rn | head -5
