"""Benchmark harness for the datapipelineetl_spark engine.

Modules (none shadows a stdlib name, because ``run.py``'s directory is
first on ``sys.path`` of the benchmark process):

- ``inputs``     seeded input generator (numpy/pyarrow only, never Spark);
- ``procfs``     ``/proc`` process-tree CPU and peak-RSS reader;
- ``spans``      in-memory span tracer that patches layer modules;
- ``eventlog``   Spark event-log and streaming-progress parser;
- ``checks``     DuckDB oracle and feed output checks;
- ``workloads``  the three closed-loop workloads;
- ``layers``     the layer -> metric -> workload map and per-layer rollup.
"""
