"""The benchmark's workloads, by name.

A workload is a class with five methods, each taking the run's
:class:`perfbench.run.Bench`:

- ``make_inputs(bench, out_dir)`` writes the seeded inputs without
  calling the program (run several times; the last output is used);
- ``prepare(bench)`` does the set-up that needs the program (a table
  to write to), once;
- ``cycle(bench)`` runs the fixed operation list once, each operation
  through ``bench.op``;
- ``verify(bench)`` checks end state after the measured pass;
- ``layer_metrics(bench)`` returns workload-specific per-layer figures
  (traced runs only).
"""

from .acid_rw import AcidRW
from .als_recsys import AlsRecsys

WORKLOADS = {"als_recsys": AlsRecsys, "acid_rw": AcidRW}
