from mapreducewordoccurences_spark.multimodal.media import (
    MEDIA_SCHEMA,
    IMAGE_META_SCHEMA,
    decode_image_meta,
    sample_frames,
    dhash_images,
    dhash_frames,
    audio_fingerprints,
)

__all__ = [
    "MEDIA_SCHEMA",
    "IMAGE_META_SCHEMA",
    "decode_image_meta",
    "sample_frames",
    "dhash_images",
    "dhash_frames",
    "audio_fingerprints",
]
