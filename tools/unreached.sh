#!/bin/sh
# Packages under src/main/scala that no main file outside them reaches:
# a package is printed when no file of another package names any type it
# declares at top level (class, object, trait, enum). Comments are
# stripped first (tools/code_lines.awk), so a scaladoc link does not count
# as a use. The root `graft` package (the API and the mains) is reached by
# definition, but each of its objects with a `main` must be named, as
# `graft.<Name>`, by a line of README.md, PLANS.md, tools/ or perfbench/:
# an unnamed one is printed too. Exits 1 when it prints anything.
# usage: tools/unreached.sh   (run from the repository root)
tmp=$(mktemp -d) || exit 2
trap 'rm -rf "$tmp"' EXIT
for f in $(find src/main/scala -name '*.scala' | sort); do
  pkg=$(awk '/^package /{print $2; exit}' "$f")
  out="$tmp/$(echo "$f" | tr / _)"
  awk -f tools/code_lines.awk "$f" > "$out"
  echo "$pkg $out" >> "$tmp/index"
done
found=0
for pkg in $(cut -d' ' -f1 "$tmp/index" | sort -u); do
  [ "$pkg" = graft ] && continue
  awk -v p="$pkg" '$1 == p {print $2}' "$tmp/index" | xargs cat |
    grep -oE '^((final|sealed|abstract|case|implicit|private(\[[A-Za-z]+\])?) +)*(class|object|trait|enum) +[A-Za-z_][A-Za-z0-9_]*' |
    awk '{print $NF}' | sort -u > "$tmp/names"
  [ -s "$tmp/names" ] || continue
  if ! awk -v p="$pkg" '$1 != p {print $2}' "$tmp/index" | xargs cat | grep -wFf "$tmp/names" > /dev/null; then
    echo "$pkg"
    found=1
  fi
done
for f in $(awk '$1 == "graft" {print $2}' "$tmp/index"); do
  for name in $(awk '/^object [A-Za-z_]/ {o = $2; sub(/[^A-Za-z0-9_].*/, "", o)}
      /def main\(/ && o != "" {print o; o = ""}' "$f"); do
    if ! grep -rqwF "graft.$name" README.md PLANS.md tools perfbench; then
      echo "graft.$name"
      found=1
    fi
  done
done
exit $found
