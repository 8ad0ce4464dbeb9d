"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
one class directory, with the Scala compiler that ships among the Spark
jars. No sbt, so nothing is written outside the checkout.

    python3 perfbench/build.py      # prints the class directory

The class directory is keyed by a hash of every source file, so a
changed source rebuilds and an unchanged tree reuses the last build.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The jar directory the program's own build uses (`unmanagedBase` in
    build.sbt), else $SPARK_HOME/jars."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sys.exit("perfbench: no Spark jar directory (build.sbt unmanagedBase "
             "or SPARK_HOME)")


def sources():
    main = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(main):
        sys.exit("perfbench: no program sources under src/main")
    files = []
    for top in (main, os.path.join(BENCH, "src")):
        for ext in ("scala", "java"):
            files += glob.glob(os.path.join(top, "**", "*." + ext),
                               recursive=True)
    return sorted(files)


def build():
    """Compile if needed; return the class directory."""
    srcs = sources()
    h = hashlib.sha256()
    for path in srcs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp%d" % os.getpid()
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    os.remove(argfile)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(res.stdout.decode(errors="replace")[-4000:])
        sys.exit("perfbench: compile failed")
    if os.path.isdir(out):  # a concurrent run built the same sources
        shutil.rmtree(tmp)
    else:
        os.replace(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
