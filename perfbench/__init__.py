"""Repository benchmark: three workloads over the sketchlib library,
run on ``local[<cores>]`` from one driver process. Entry point:
``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` (see perfbench/README.md)."""
