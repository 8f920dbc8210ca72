#!/bin/bash
# Leaf check over the main sources: prints every object, class, trait, def
# or val declared in src/main whose name occurs nowhere in the code of
# src/main or perfbench/src except at its own definition. Such a name has
# no caller inside the program: it is an entry point, an override that
# Spark calls, something only specs call, or dead. Private and implicit
# declarations are left out (the compiler resolves an implicit by its
# type, not its name).
# Comment lines (starting with //, * or /*, as in tools/loc.sh) and
# trailing " // ..." comments are ignored; string literals are not.
# Output: one "path:line<TAB>kind name" line per name, sorted.
# Usage: tools/unreached.sh
set -euo pipefail
cd "$(dirname "${BASH_SOURCE[0]}")/.."
{
  find src/main -name '*.scala' -print0 | sort -z | xargs -0 -I{} printf 'M\t%s\n' {}
  find perfbench/src -name '*.scala' -print0 | sort -z | xargs -0 -I{} printf 'P\t%s\n' {}
} | awk -F'\t' '
  { listed[NR] = $2; isMain[$2] = ($1 == "M") }
  END {
    for (f = 1; f <= NR; f++) {
      path = listed[f]; ln = 0
      while ((getline line < path) > 0) {
        ln++
        if (line ~ /^[ \t]*(\/\/|\*|\/\*)/) continue
        sub(/[ \t]\/\/.*$/, "", line)
        if (isMain[path]) {
          rest = line
          while (match(rest, /(^|[^A-Za-z0-9_])(object|class|trait|def|val)[ \t]+[A-Za-z_][A-Za-z0-9_]*/)) {
            decl = substr(rest, RSTART, RLENGTH)
            before = substr(rest, 1, RSTART)
            rest = substr(rest, RSTART + RLENGTH)
            sub(/^[^A-Za-z]*/, "", decl)
            split(decl, kw, /[ \t]+/)
            defs[kw[2]]++
            if (before ~ /private|implicit/) continue
            nd++; dname[nd] = kw[2]; dkind[nd] = kw[1]; dat[nd] = path ":" ln
          }
        }
        gsub(/[^A-Za-z0-9_]+/, " ", line)
        n = split(line, tok, " ")
        for (i = 1; i <= n; i++) seen[tok[i]]++
      }
      close(path)
    }
    for (d = 1; d <= nd; d++)
      if (seen[dname[d]] == defs[dname[d]]) print dat[d] "\t" dkind[d] " " dname[d]
  }' | sort -t: -k1,1 -k2,2n
