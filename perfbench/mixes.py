"""The registered queries the batch workload runs.

``ITERATIVE`` queries spend their time inside the query function, in
eager jobs (convergence rounds, checkpoints) and driver-side plan
construction.  ``graph_kcore`` peels a supplier-customer trade graph round by round;
``ann_mmr_topk`` builds its candidate and pair tables through the build
cache, so its cold call builds and its warm call reads, and it leaves
persistent RDDs behind.  The list is sized so that a run (set-up, a cold
pass, the warm passes and the output check) takes about a minute on four
cores.
"""

ITERATIVE = [
    "graph_kcore",
    "ann_mmr_topk",
]
