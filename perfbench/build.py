"""Build file of the benchmark: compiles graft's sources (`src/main/scala`)
together with the benchmark's JVM sources (`perfbench/src`) with the Scala
compiler that ships in the Spark distribution. No sbt, no network.

The output directory is keyed by a hash of every source file, so a checkout
builds once and an edited source rebuilds. Run directly to build:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory: `$SPARK_HOME/jars`, else the
    jars the `pyspark` package ships."""
    def has_jars(home):
        return home and glob.glob(os.path.join(home, 'jars', 'spark-sql_*.jar'))
    home = os.environ.get('SPARK_HOME')
    if not has_jars(home):
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            pass
    if not has_jars(home):
        raise BuildError('Spark jars not found: set SPARK_HOME')
    return os.path.join(home, 'jars')


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, 'src/main/scala/**/*.scala'), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, 'perfbench/src/**/*.scala'), recursive=True))
    if not prog:
        raise BuildError(f'no program sources under {root}/src/main/scala')
    if not bench:
        raise BuildError(f'no benchmark sources under {root}/perfbench/src')
    return prog + bench


def ensure(root, out_root):
    """Directory of compiled classes for the current sources; builds them
    if needed. Raises BuildError when the sources are missing or fail."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, 'rb') as f:
            h.update(f.read())
    dest = os.path.join(out_root, 'classes-' + h.hexdigest()[:16])
    if os.path.exists(os.path.join(dest, '.built')):
        return dest
    tmp = dest + '.tmp'
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), '*')
    cmd = ['java', '-XX:-UsePerfData', '-Xmx2g', '-Xss8m', f'-Djava.io.tmpdir={tmp}', '-cp', cp,
           'scala.tools.nsc.Main', '-classpath', cp, '-d', tmp, '-nowarn'] + srcs
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=800)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError('compile failed:\n' + proc.stdout[-4000:])
    open(os.path.join(tmp, '.built'), 'w').close()
    for old in glob.glob(os.path.join(out_root, 'classes-*')):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, dest)
    return dest


if __name__ == '__main__':
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        print(ensure(root, os.path.join(root, '.bench_build')))
    except BuildError as e:
        sys.exit(f'build: {e}')
