"""PySpark worker entry point for the benchmark's traced runs.

Selected with ``spark.python.worker.module``; the PySpark daemon imports
a custom worker module only when its name starts with ``pyspark``, hence
the name. It wraps the layer functions once, in the daemon before it
forks the workers, and otherwise runs the stock worker.
"""

from pyspark import worker as _worker

from perfbench import tracing

tracing.install_worker(_worker)
main = _worker.main
