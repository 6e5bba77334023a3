"""Builds the program and the benchmark from source.

Both are compiled with the Scala compiler that ships among Spark's jars
(the jars the project's build.sbt compiles against), into
`<out>/classes/program` and `<out>/classes/bench`. A build is reused
while no source file changed.

    python3 perfbench/build.py [out_dir]
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def spark_jars(repo=REPO):
    """The Spark jars directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(repo, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("Spark jars not found: set SPARK_HOME")


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def scalac(jars, classpath, srcs, dest, log):
    if os.path.isdir(dest):
        shutil.rmtree(dest)
    os.makedirs(dest)
    args = os.path.join(os.path.dirname(dest), os.path.basename(dest) + ".args")
    with open(args, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.pathsep.join([os.path.join(jars, "*")] + classpath)
    # an explicit -classpath: scalac's default "." would turn directories into packages
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-usejavacp", "-classpath", os.pathsep.join(classpath + [dest]),
           "-nowarn", "-d", dest, "@" + args]
    with open(log, "a") as lf:
        rc = subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=dest)
    if rc != 0:
        raise BuildError("scalac failed for %s (see %s)" % (dest, log))


def build(out, repo=REPO):
    """Returns the run classpath (program, benchmark, Spark jars)."""
    prog = sources(os.path.join(repo, "src", "main", "scala"))
    bench = sources(os.path.join(HERE, "scala"))
    if not prog:
        raise BuildError("no program sources under src/main/scala")
    if not bench:
        raise BuildError("no benchmark sources under perfbench/scala")
    jars = spark_jars(repo)
    h = hashlib.sha256()
    for p in prog + bench:
        h.update(os.path.relpath(p, repo).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp = os.path.join(classes, "STAMP")
    program, benchd = os.path.join(classes, "program"), os.path.join(classes, "bench")
    if not (os.path.isfile(stamp) and open(stamp).read() == key):
        os.makedirs(classes, exist_ok=True)
        if os.path.exists(stamp):
            os.remove(stamp)
        log = os.path.join(out, "build.log")
        open(log, "w").close()
        scalac(jars, [], prog, program, log)
        scalac(jars, [program], bench, benchd, log)
        with open(stamp, "w") as f:
            f.write(key)
    return os.pathsep.join([program, benchd, os.path.join(jars, "*")])


if __name__ == "__main__":
    target = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".bench_build")
    try:
        print(build(os.path.abspath(target)))
    except BuildError as e:
        sys.exit("build failed: %s" % e)
