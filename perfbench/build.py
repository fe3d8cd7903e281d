"""Build file of the benchmark: compiles graft's main sources together with the
benchmark's JVM half (`perfbench/src`) into one class directory.

graft hard-codes absolute roots for its persisted structures
(`<prefix>/target/bucketed`, `.../zorder`, `.../ivf_index`, ...). The
benchmark runs from any checkout and writes only inside it, so the copy it
compiles points every such `<prefix>/target` at `<checkout>/.bench_work/target`
instead; that literal is the only change made to the program's sources. Spark
comes from the jar directory build.sbt compiles against (`unmanagedBase`), or
from `$SPARK_HOME/jars`. The build is skipped when the stamp of every input
matches the previous build.

Usage: python3 perfbench/build.py   (from the checkout root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

# an absolute structure root in a string literal: "<prefix>/target/<family>
STRUCTURE_ROOT = re.compile(
    r'"(/[\w./-]*?/target)/(?:bucketed|zorder|hilbert|band_index|ivf_index|pq_index'
    r'|snapmerge|lshcensus|incr_maint|cluster_maint|maint_tick)')


def spark_jars(root):
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = (root / "build.sbt").read_text() if (root / "build.sbt").exists() else ""
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        jars = Path(m.group(1)) if m else None
    if jars is None or not jars.is_dir():
        raise SystemExit(f"perfbench: Spark jars not found (looked at {jars})")
    return jars


def build_dir(root):
    return (root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()


def target_root(root):
    return root / ".bench_work" / "target"


def _sources(root):
    prog = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((root / "perfbench" / "src").rglob("*.scala"))
    if not prog:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    return prog, bench


def ensure(root):
    """Build if needed; returns the JVM class path of the benchmark and the
    build's stamp."""
    root = root.resolve()
    out = build_dir(root)
    classes = out / "classes"
    jars = spark_jars(root)
    prog, bench = _sources(root)
    h = hashlib.sha256(f"{root}|{jars}".encode())
    for f in [Path(__file__)] + prog + bench:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    stamp_file = out / "stamp"
    cp = f"{classes}{os.pathsep}{jars}/*"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp, stamp
    if out.exists():
        shutil.rmtree(out)
    relocated = out / "graft-src"
    target = str(target_root(root))
    for f in prog:
        dst = relocated / f.relative_to(root / "src" / "main" / "scala")
        dst.parent.mkdir(parents=True, exist_ok=True)
        text = f.read_text()
        for prefix in set(STRUCTURE_ROOT.findall(text)):
            text = text.replace(f'"{prefix}/', f'"{target}/')
        dst.write_text(text)
    classes.mkdir(parents=True)
    args_file = out / "sources.txt"
    args_file.write_text("\n".join(str(p) for p in sorted(relocated.rglob("*.scala")) + bench))
    cmd = ["java", "-Xss4m", "-Xmx1536m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(classes), f"@{args_file}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: compilation failed")
    stamp_file.write_text(stamp)
    return cp, stamp


if __name__ == "__main__":
    print(ensure(Path.cwd())[0])
