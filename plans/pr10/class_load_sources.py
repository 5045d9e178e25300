"""Count the classes a JVM loaded by where they came from, from one
-Xlog:class+load log: archive (JDK base / dynamic), jar, JDK module,
or defined at run time (lambdas, reflection accessors, codegen)."""
import re, sys, collections
def cat(name, src):
    if src.startswith("shared objects file (top)"): return "dynamic CDS archive (<key>.jsa)"
    if src.startswith("shared objects file"): return "JDK base CDS archive (classes.jsa)"
    if src.startswith("jrt:/"): return "JDK modules (jrt:/), parsed and verified"
    if src.startswith("file:") and ("janino" in src or "commons-compiler" in src): return "signed jars janino/commons-compiler (never archived)"
    if src.startswith("file:"): return "Spark jars (file:), parsed and verified"
    if "$$Lambda$" in name or "$Lambda$" in name or "LambdaForm" in name or "LookupDefineClass" in src: return "run-time lambdas / method handles"
    if src == "__ClassDefiner__" or "GeneratedMethodAccessor" in name: return "run-time reflection accessors"
    return "other run-time defined (" + src.split()[0].split("$")[0][:60] + ")"
for path in sys.argv[1:]:
    c = collections.Counter()
    for line in open(path):
        m = re.search(r"\[class,load\] (\S+) source: (.*)$", line)
        if m: c[cat(m.group(1), m.group(2))] += 1
    print(f"{path}: {sum(c.values())} classes")
    for k, v in c.most_common(12): print(f"  {v:7d}  {k}")
    print(f"  {sum(v for _, v in c.most_common()[12:]):7d}  other")
