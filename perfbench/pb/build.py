"""Compile the engine (plus the in-repo RESP test server) and the harness
with the Scala compiler that ships among the Spark jars, and start the
harness JVM with the engine's own JVM flags (`tools/run_main.sh`)."""
import glob
import hashlib
import os
import re
import shutil
import subprocess

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the same --add-opens set, properties and heap flag as tools/run_main.sh
ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def jvm_flags():
    flags = []
    for p in ADD_OPENS:
        flags += ["--add-opens", p]
    # heap: SPARK_DRIVER_MEM as in run_main.sh, but 4g instead of its 24g
    # by default, so that a run fits on a machine shared with other jobs;
    # -XX:-UsePerfData (not in run_main.sh) keeps the JVM from writing
    # hsperfdata outside the checkout
    flags += ["-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Xmx" + os.environ.get("SPARK_DRIVER_MEM", "4g")]
    return flags


def spark_jars(root):
    """The Spark jar directory: $SPARK_HOME/jars, else the one build.sbt
    takes its jars from (`unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
    except (OSError, AttributeError):
        raise SystemExit("Spark jars not found: set SPARK_HOME")


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise SystemExit("no engine sources under src/main/scala: run from a checkout")
    test_server = os.path.join(root, "src/test/scala/graft/RespTestServer.scala")
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    return engine + [test_server] + harness


def build(root, build_dir):
    """Compile into build_dir/classes unless the sources are unchanged."""
    srcs = sources(root)
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(spark_jars(root), "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", classes, "-classpath", cp] + srcs
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise SystemExit("build failed:\n" + res.stdout[-4000:])
    resources = os.path.join(root, "src/main/resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def harness_cmd(root, classes, args, tmp_dir):
    """The harness JVM; its temporary files (streaming checkpoints) stay
    in `tmp_dir`."""
    cp = os.path.join(spark_jars(root), "*") + os.pathsep + classes
    return (["java"] + jvm_flags() + ["-Djava.io.tmpdir=" + tmp_dir, "-cp", cp,
                                      "perfbench.Harness"] + [str(a) for a in args])
