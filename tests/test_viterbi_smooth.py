"""Viterbi label smoothing over reading-order sequences: the
``viterbi_decode`` step of ``pipeline.model.smoothed_labels``, against
a sticky transition prior written out here."""

import numpy as np

from transkribusdu_spark.functions.viterbi import viterbi_decode

CLASSES = ("boilerplate", "main")
# stay in the same class with probability 0.8, switch with 0.2
STICKY = np.log(np.array([[0.8, 0.2], [0.2, 0.8]]))


def _smooth(p_main):
    p = np.array(p_main)
    proba = np.clip(np.stack([1.0 - p, p], axis=1), 1e-9, 1.0)
    path, _ = viterbi_decode(np.log(proba), STICKY)
    return [CLASSES[k] for k in path]


def test_isolated_flip_is_smoothed():
    # run of confident 'main' with one weak 'boilerplate' blip in the
    # middle: sticky transitions flip the blip back to 'main'
    assert _smooth([0.9, 0.9, 0.45, 0.9, 0.9]) == ["main"] * 5


def test_confident_boundary_is_kept():
    # real main->boilerplate boundary
    assert _smooth([0.95, 0.9, 0.1, 0.05, 0.08]) == ["main"] * 2 + ["boilerplate"] * 3
