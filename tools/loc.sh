#!/bin/sh
# Non-blank, non-comment lines of Scala under src/main/scala (line and
# block comments dropped; a line that mixes code and a comment counts).
# usage: tools/loc.sh   (run from the repository root)
find src/main/scala -name '*.scala' -print0 | xargs -0 cat | awk -f tools/code_lines.awk | wc -l
