from .multimodal import attach_fake_media, decode_media_features

__all__ = [
    "attach_fake_media",
    "decode_media_features",
]
