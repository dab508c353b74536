"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`, plus any `src/main/java` and `src/main/resources`)
together with the benchmark's own JVM side (`perfbench/scala`) into
`.bench_build/classes-<hash>`, keyed by every source byte, the jar set
and the JDK, so an unchanged checkout builds once. The Scala compiler
is the one in the program's jar directory (`unmanagedBase` in
build.sbt), which is also the runtime classpath."""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))


def jar_dir(checkout):
    """The directory build.sbt takes its jars from."""
    with open(os.path.join(checkout, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise RuntimeError("build.sbt names no unmanagedBase jar directory")
    d = m.group(1)
    if not glob.glob(os.path.join(d, "scala-compiler-*.jar")):
        raise RuntimeError(f"no Scala compiler among the jars in {d}")
    return d


def _sources(checkout):
    main = os.path.join(os.path.abspath(checkout), "src", "main")
    scala = sorted(glob.glob(os.path.join(main, "scala", "**", "*.scala"), recursive=True))
    java = sorted(glob.glob(os.path.join(main, "java", "**", "*.java"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    res_root = os.path.join(main, "resources")
    res = sorted(p for p in glob.glob(os.path.join(res_root, "**", "*"), recursive=True)
                 if os.path.isfile(p))
    return scala, java, bench, res_root, res


def _java_version():
    r = subprocess.run(["java", "-version"], capture_output=True, text=True, check=True)
    return r.stderr


def build(checkout, out_root):
    """Compile if needed; return the classes directory."""
    scala, java, bench, res_root, res = _sources(checkout)
    if not scala:
        raise RuntimeError(f"no program sources under {checkout}/src/main/scala")
    jars = jar_dir(checkout)
    h = hashlib.sha256()
    for p in scala + java + bench + res:
        h.update(os.path.relpath(p, checkout).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    h.update(_java_version().encode())
    os.makedirs(out_root, exist_ok=True)
    out = os.path.join(out_root, "classes-" + h.hexdigest()[:16])
    with open(os.path.join(out_root, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, "_DONE")):
            return out
        for old in glob.glob(os.path.join(out_root, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        tmp = out + ".tmp"
        os.makedirs(tmp)
        cp = os.path.join(jars, "*")
        # run inside the output dir: scalac's default classpath is "."
        subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-usejavacp", "-nowarn", "-d", tmp] + scala + java + bench,
                       check=True, cwd=tmp)
        if java:
            subprocess.run(["javac", "-nowarn", "-cp", f"{cp}:{tmp}", "-d", tmp] + java, check=True)
        for p in res:
            dst = os.path.join(tmp, os.path.relpath(p, res_root))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy(p, dst)
        open(os.path.join(tmp, "_DONE"), "w").close()
        os.rename(tmp, out)
        return out
