# Prints the code lines of Scala source: blank lines, line comments and
# block comments dropped; a line that mixes code and a comment is kept.
# Shared by tools/loc.sh and tools/unreached.sh.
{s=$0; gsub(/^[ \t]+|[ \t]+$/,"",s)}
b&&s~/\*\//{b=0;next}
b{next}
s~/^\/\*/&&s!~/\*\//{b=1;next}
s==""||s~/^\/\//||s~/^\/\*.*\*\/$/{next}
{print}
