"""Named librosa-style audio features: golden checks against direct
numpy formulas on a known series (the same definitions librosa
publishes), independent of the DuckDB oracle path."""

import datetime

import numpy as np
import pytest

from pliers_spark.functions.audio_features import (
    FRAME, HOP, SR, mel_dct_weights, mel_mfcc, rms_zcr, spectral_flux,
    spectral_shape,
)
from pliers_spark.functions.spectral import stft_power_frames


def _series_df(spark, x, entity=1):
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (entity, i, t0 + datetime.timedelta(seconds=i), float(v))
        for i, v in enumerate(x)
    ]
    return spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp, value double")


def _np_frames(x, frame=FRAME, hop=HOP):
    n = (len(x) - frame) // hop + 1
    idx = np.arange(frame)[None, :] + hop * np.arange(n)[:, None]
    return np.asarray(x, dtype=np.float64)[idx]


def _np_power(x):
    frames = _np_frames(x)
    j = np.arange(FRAME)
    win = 0.5 - 0.5 * np.cos(2 * np.pi * j / FRAME)
    spec = np.fft.rfft(frames * win, axis=1)
    return (spec.real**2 + spec.imag**2).round(4)


@pytest.fixture(scope="module")
def x():
    rng = np.random.RandomState(7)
    return np.cumsum(rng.randn(40)).round(3)


@pytest.fixture(scope="module")
def frames(spark, x):
    df = _series_df(spark, x)
    return stft_power_frames(df, "user_id", "ts", "value", order_cols=["ts", "event_id"])


def test_spectral_shape_matches_numpy(frames, x):
    p = _np_power(x)
    mag = np.sqrt(p)
    freqs = np.arange(p.shape[1]) * SR / FRAME
    tot = mag.sum(axis=1)
    cent = (mag * freqs).sum(axis=1) / tot
    bw = np.sqrt((mag * (freqs[None, :] - cent[:, None]) ** 2).sum(axis=1) / tot)
    cum = np.cumsum(mag, axis=1)
    roll = freqs[(cum >= 0.85 * tot[:, None]).argmax(axis=1)]
    pf = np.maximum(p, 1e-10)
    flat = pf.prod(axis=1) ** (1 / p.shape[1]) / pf.mean(axis=1)
    got = {r["frame"]: r for r in spectral_shape(frames).collect()}
    for f in range(p.shape[0]):
        r = got[f]
        assert r["centroid_hz"] == pytest.approx(cent[f], abs=2e-6)
        assert r["bandwidth_hz"] == pytest.approx(bw[f], abs=2e-6)
        assert r["rolloff_hz"] == roll[f]
        assert r["flatness"] == pytest.approx(flat[f], abs=2e-6)


def test_spectral_flux_matches_numpy(frames, x):
    mag = np.sqrt(_np_power(x))
    flux = (np.maximum(mag[1:] - mag[:-1], 0.0) ** 2).sum(axis=1)
    got = {r["frame"]: r["flux"] for r in spectral_flux(frames).collect()}
    assert sorted(got) == list(range(1, mag.shape[0]))  # first frame dropped
    for f, v in got.items():
        assert v == pytest.approx(flux[f - 1], abs=2e-6)


def test_rms_zcr_matches_numpy(spark, x):
    df = _series_df(spark, x)
    out = {r["frame"]: r for r in rms_zcr(df, "user_id", "ts", "value", "event_id").collect()}
    fx = _np_frames(x)
    rms = np.sqrt((fx**2).mean(axis=1))
    s = np.diff(np.asarray(x, dtype=np.float64))  # s[n-1] = x[n]-x[n-1]
    for f in range(fx.shape[0]):
        lo = f * HOP
        # crossings between s_n and s_{n-1} for n in [lo+1, lo+FRAME-1], n>=2
        cnt = 0
        for n in range(max(lo + 1, 2), lo + FRAME):
            cnt += (s[n - 1] < 0) != (s[n - 2] < 0)
        assert out[f]["rms"] == pytest.approx(rms[f], abs=2e-6)
        assert out[f]["zcr"] == pytest.approx(cnt / FRAME)


def test_mfcc_matches_numpy(frames, x):
    p = _np_power(x)
    fb, dct = mel_dct_weights()
    fb, dct = np.array(fb), np.array(dct)
    logmel = np.log(p @ fb.T + 1e-10)
    mfcc = logmel @ dct.T
    got = {r["frame"]: r for r in mel_mfcc(frames).collect()}
    for f in range(p.shape[0]):
        for m in range(fb.shape[0]):
            assert got[f][f"logmel{m}"] == pytest.approx(logmel[f, m], abs=2e-6)
        for c in range(dct.shape[0]):
            assert got[f][f"mfcc{c}"] == pytest.approx(mfcc[f, c], abs=2e-6)


def test_mel_filterbank_shape():
    fb, dct = mel_dct_weights()
    fb = np.array(fb)
    assert fb.shape == (3, 5) and (fb >= 0).all()
    # every filter has some support; DCT rows orthonormal
    assert (fb.sum(axis=1) > 0).all()
    d = np.array(dct)
    assert np.allclose(d @ d.T, np.eye(3) * 1.0, atol=1e-12)


def test_rms_zcr_short_series_no_frames(spark):
    df = _series_df(spark, [1.0, 2.0, 3.0])  # shorter than FRAME
    assert rms_zcr(df, "user_id", "ts", "value", "event_id").count() == 0


def test_poly_features_matches_numpy(frames, x):
    from pliers_spark.functions.audio_features import poly_features

    p = _np_power(x)
    mag = np.sqrt(p)
    freqs = np.arange(p.shape[1]) * SR / FRAME
    got = {r["frame"]: r for r in poly_features(frames).collect()}
    for f in range(p.shape[0]):
        slope, intercept = np.polyfit(freqs, mag[f], 1)
        assert got[f]["coefficient_0"] == pytest.approx(slope, abs=2e-6)
        assert got[f]["coefficient_1"] == pytest.approx(intercept, abs=2e-6)


def test_onset_detect_matches_numpy(frames, x):
    from pliers_spark.functions.audio_features import onset_detect

    mag = np.sqrt(_np_power(x))
    flux = np.round((np.maximum(mag[1:] - mag[:-1], 0.0) ** 2).sum(axis=1), 6)
    # frames carrying flux are 1..n-1; onset rule needs prev/next/trailing-3
    onsets = set()
    for i in range(1, len(flux) - 1):
        lo = max(0, i - 3)
        if i - lo < 1:
            continue
        trail = flux[lo:i].mean()
        if flux[i] > flux[i - 1] and flux[i] >= flux[i + 1] and flux[i] >= trail + 0.5:
            onsets.add(i + 1)  # flux index i ↔ frame i+1
    got = {r["frame"] for r in onset_detect(frames).collect()}
    assert got == onsets


def test_tempo_autocorr_matches_numpy(frames, x):
    from pliers_spark.functions.audio_features import HOP, SR, tempo_autocorr

    mag = np.sqrt(_np_power(x))
    flux = np.round((np.maximum(mag[1:] - mag[:-1], 0.0) ** 2).sum(axis=1), 6)
    acf = [np.round((flux[L:] * flux[:-L]).sum(), 4) for L in range(1, 7)]
    best = int(np.argmax(acf)) + 1  # numpy argmax takes first max = smallest lag
    row = tempo_autocorr(frames).collect()[0]
    assert row["best_lag"] == best
    assert row["tempo_bpm"] == pytest.approx(60.0 * SR / (HOP * best))


def test_hpss_energy_matches_numpy(frames, x):
    from pliers_spark.functions.audio_features import hpss_energy

    p = _np_power(x)
    n_frames, n_bins = p.shape
    got = {r["frame"]: r for r in hpss_energy(frames).collect()}
    assert set(got) == set(range(2, n_frames - 2))  # edges dropped
    for f in range(2, n_frames - 2):
        fmed = np.sort(p[f])[n_bins // 2]
        h = e_p = 0.0
        for k in range(n_bins):
            tmed = np.sort(p[f - 2 : f + 3, k])[2]
            mask = tmed**2 / (tmed**2 + fmed**2 + 1e-10)
            h += p[f, k] * mask
            e_p += p[f, k] * (1 - mask)
        assert got[f]["harmonic_energy"] == pytest.approx(h, abs=2e-6)
        assert got[f]["percussive_energy"] == pytest.approx(e_p, abs=2e-6)


def test_yin_f0_matches_numpy(spark, x):
    from pliers_spark.functions.audio_features import yin_f0

    df = _series_df(spark, x)
    got = {r["frame"]: r for r in yin_f0(df, "user_id", "ts", "value", "event_id").collect()}
    fx = _np_frames(x)
    for f in range(fx.shape[0]):
        w = fx[f]
        d = np.array([((w[:4] - w[tau : tau + 4]) ** 2).sum() for tau in range(1, 5)])
        assert d.sum() > 0  # random-walk series: never constant
        c = np.array([d[t] * (t + 1) / d[: t + 1].sum() for t in range(4)])
        below = np.flatnonzero(c < 0.1)
        tau = (below[0] if len(below) else int(np.argmin(c))) + 1
        assert got[f]["best_tau"] == tau
        assert got[f]["f0_hz"] == pytest.approx(SR / tau)
        assert got[f]["cmnd_min"] == pytest.approx(round(c.min(), 6), abs=1e-9)


def test_yin_f0_constant_series_null(spark):
    from pliers_spark.functions.audio_features import yin_f0

    df = _series_df(spark, [1.0] * 12)
    rows = yin_f0(df, "user_id", "ts", "value", "event_id").collect()
    assert len(rows) == 2  # (12-8)//4+1 frames
    assert all(r["best_tau"] is None and r["f0_hz"] is None for r in rows)


def test_mfcc_energy_matches_numpy(frames, x):
    from pliers_spark.functions.audio_features import mel_dct_weights, mfcc_energy

    p = _np_power(x)
    fb, dct = mel_dct_weights()
    fb, dct = np.array(fb), np.array(dct)
    logmel = np.log(p @ fb.T + 1e-10)
    mfcc = logmel @ dct.T
    rec_low = mfcc[:, :2] @ dct[:2, :]   # keep c=0,1 -> idct
    rec_high = mfcc[:, 2:] @ dct[2:, :]  # keep c=2
    got = {r["frame"]: r for r in mfcc_energy(frames).collect()}
    for f in range(p.shape[0]):
        for m in range(3):
            assert got[f][f"low_mel{m}"] == pytest.approx(rec_low[f, m], abs=2e-6)
            assert got[f][f"high_mel{m}"] == pytest.approx(rec_high[f, m], abs=2e-6)
    # sanity: low + high reconstructs the full log-mel (orthonormal DCT)
    assert np.allclose(rec_low + rec_high, logmel, atol=1e-9)


def test_tempogram_matches_numpy(spark):
    from pliers_spark.functions.audio_features import tempogram

    rng = np.random.RandomState(17)
    x = np.cumsum(rng.randn(90)).round(3)  # 21 frames: enough win+lag history
    frames = stft_power_frames(
        _series_df(spark, x), "user_id", "ts", "value", order_cols=["ts", "event_id"]
    )
    mag = np.sqrt(_np_power(x))
    flux = np.round((np.maximum(mag[1:] - mag[:-1], 0.0) ** 2).sum(axis=1), 6)
    # flux index i <-> frame i+1; g_L(t) = flux_t * flux_{t-L}
    got = {r["frame"]: r for r in tempogram(frames).collect()}
    n = len(flux)
    for f, r in got.items():
        t = f - 1  # flux array index of frame f
        for L in range(1, 5):
            vals = [flux[u] * flux[u - L] for u in range(t - 7, t + 1)]
            assert all(u - L >= 0 for u in range(t - 7, t + 1))  # full history
            assert r[f"tg{L}"] == int(np.floor(np.sum(vals)))
    # earliest emitted frame has exactly win+max_lag flux history
    assert min(got) == 1 + 7 + 4




def test_spectral_contrast_matches_numpy(frames, x):
    """Round-3 SpectralContrastExtractor counterpart: per octave band,
    10*log10(peak/valley) of floored magnitudes — recomputed here in
    direct numpy, independent of the engine's Column text AND of the
    DuckDB oracle (hand-computed golden discipline, VERDICT r2 item 9)."""
    from pliers_spark.functions.audio_features import spectral_contrast

    p = _np_power(x)
    mag = np.maximum(np.sqrt(p), 1e-10)
    bands = {"b0": [0, 1], "b1": [1, 2], "b2": [2, 3, 4]}
    got = {r["frame"]: r for r in spectral_contrast(frames).collect()}
    for f in range(p.shape[0]):
        for name, bins in bands.items():
            sub = mag[f, bins]
            want = 10.0 * (np.log10(sub.max()) - np.log10(sub.min()))
            assert got[f][f"contrast_{name}"] == pytest.approx(want, abs=2e-6), (f, name)


def test_spectral_contrast_hand_computed_golden():
    """One fully literal pin: a frame with power bins [4, 1, 0.25, 0.01,
    1e-12] has magnitudes [2, 1, 0.5, 0.1, 1e-6] → band contrasts
    b0 = 10·log10(2/1), b1 = 10·log10(1/0.5), b2 = 10·log10(0.5/1e-6) —
    computed by hand, guarding the shared-text oracle family against a
    same-bug-both-sides formula error."""
    from pliers_spark.functions.audio_features import spectral_contrast_exprs

    import duckdb

    exprs = spectral_contrast_exprs()
    sel = ", ".join(f"{e} AS {n}" for n, e in exprs.items())
    row = duckdb.sql(
        "SELECT " + sel + " FROM (SELECT 4.0 AS p0, 1.0 AS p1, 0.25 AS p2,"
        " 0.01 AS p3, 1e-12 AS p4)"
    ).fetchone()
    b0, b1, b2 = row
    assert b0 == pytest.approx(10 * np.log10(2.0), abs=1e-6)      # 3.010300
    assert b1 == pytest.approx(10 * np.log10(2.0), abs=1e-6)
    assert b2 == pytest.approx(10 * np.log10(0.5 / 1e-6), abs=1e-6)
