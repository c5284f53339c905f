"""Repository benchmark: streaming re-sequencer workloads and a batch query mix.

Run with ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; see ``perfbench/README.md``.
"""
