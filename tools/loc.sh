#!/bin/sh
# Non-blank, non-comment lines of Scala under src/main/scala (line and
# block comments dropped; a line that mixes code and a comment counts).
# usage: tools/loc.sh   (run from the repository root)
find src/main/scala -name '*.scala' -print0 | xargs -0 cat | awk '{s=$0; gsub(/^[ \t]+|[ \t]+$/,"",s)} b&&s~/\*\//{b=0;next} b{next} s~/^\/\*/&&s!~/\*\//{b=1;next} s==""||s~/^\/\//||s~/^\/\*.*\*\/$/{next} {n++} END{print n}'
