"""seq2seq encoder/decoder inference (SURVEY §2.6 M6-M8, W15).

Reference: ``topologies/recurrent_model.py`` — RNN/LSTM stacks (M6), an
encoder that keeps each layer's FINAL hidden state (M7), and a decoder
initialized from those states that unrolls one step at a time feeding its
own output back (M8/W15: the training path is teacher-forced, the
inference path autoregressive).

NumPy forward pass over one sequence at a time (ml/tcn.py is the model
that scores whole Arrow record batches with mapInArrow) — training stays
out of scope (no distributed backprop, SURVEY §7.7).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-x))


@dataclass
class LSTMLayer:
    """Single LSTM layer, gates in [i, f, g, o] order."""

    w_x: np.ndarray  # (input_dim, 4*hidden)
    w_h: np.ndarray  # (hidden, 4*hidden)
    b: np.ndarray  # (4*hidden,)

    @property
    def hidden(self) -> int:
        return self.w_h.shape[0]

    def step(self, x: np.ndarray, h: np.ndarray, c: np.ndarray):
        z = x @ self.w_x + h @ self.w_h + self.b
        n = self.hidden
        i, f, g, o = _sigmoid(z[:n]), _sigmoid(z[n : 2 * n]), np.tanh(z[2 * n : 3 * n]), _sigmoid(z[3 * n :])
        c2 = f * c + i * g
        h2 = o * np.tanh(c2)
        return h2, c2


@dataclass
class Seq2SeqWeights:
    """Deterministic encoder/decoder LSTM stacks + linear readout."""

    n_features: int
    hidden_sizes: tuple = (8, 8)
    seed: int = 42
    encoder: list = field(default_factory=list)
    decoder: list = field(default_factory=list)
    readout: tuple = None

    def __post_init__(self):
        rng = np.random.default_rng(self.seed)

        def make_stack(in_dim):
            layers = []
            for h in self.hidden_sizes:
                layers.append(
                    LSTMLayer(
                        rng.normal(0, 0.1, (in_dim, 4 * h)),
                        rng.normal(0, 0.1, (h, 4 * h)),
                        rng.normal(0, 0.1, 4 * h),
                    )
                )
                in_dim = h
            return layers

        self.encoder = make_stack(self.n_features)
        self.decoder = make_stack(self.n_features)
        self.readout = (
            rng.normal(0, 0.1, (self.hidden_sizes[-1], self.n_features)),
            rng.normal(0, 0.1, self.n_features),
        )


def encode(x: np.ndarray, weights: Seq2SeqWeights):
    """M7: run the encoder stack over (T, F); return each layer's final
    (h, c) — the bottleneck states that initialize the decoder."""
    states = [(np.zeros(l.hidden), np.zeros(l.hidden)) for l in weights.encoder]
    for t in range(x.shape[0]):
        inp = x[t]
        for li, layer in enumerate(weights.encoder):
            h, c = layer.step(inp, *states[li])
            states[li] = (h, c)
            inp = h
    return states


def decode(states, n_steps: int, weights: Seq2SeqWeights, first_input: np.ndarray) -> np.ndarray:
    """M8/W15: unroll the decoder one step at a time, feeding each output
    back as the next input (inference mode; training would teacher-force).
    """
    w, b = weights.readout
    out = []
    inp = first_input
    dec_states = list(states)
    for _ in range(n_steps):
        x = inp
        for li, layer in enumerate(weights.decoder):
            h, c = layer.step(x, *dec_states[li])
            dec_states[li] = (h, c)
            x = h
        y = x @ w + b
        out.append(y)
        inp = y
    return np.array(out)


def reconstruct(x: np.ndarray, weights: Seq2SeqWeights) -> np.ndarray:
    """Autoencoder forward (reference ``turbofan_autoencoder.py``): encode
    the window, decode the same length starting from a zero input (W10),
    against the reversed sequence (W11). The forward-order decode is
    ``reconstruct(x, weights)[::-1]``."""
    states = encode(x, weights)
    return decode(states, x.shape[0], weights, np.zeros(x.shape[1]))[::-1]
